"""North-rule pipeline entry point for spark-submit.

    spark-submit --py-files dtaidistance_spark.zip scripts/run_pipeline.py \
        --input /path/to/transcripts_parquet --workdir /path/to/stages \
        [--convs 10000]  # or omit --input to synthesize deterministically

Runs the full resumable pipeline: transcripts → points → 1m/1h/1d tiers →
Gorilla chunks → zero-filled dense arrays → banded blocked DTW matrix,
with every stage checkpointed (parquet + manifest) so a rerun resumes
from the last completed stage (operators/checkpoint.py).  Emits a JSON
metrics line at the end.

Packaging: `cd /root/repo && zip -r dtaidistance_spark.zip
dtaidistance_spark` produces the --py-files artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None,
                    help="transcripts parquet (conv_id, turn_idx, role, text, tool, ts)")
    ap.add_argument("--workdir", default="/tmp/dtaidistance_spark_work")
    ap.add_argument("--convs", type=int, default=10000)
    ap.add_argument("--series-limit", type=int, default=1024)
    ap.add_argument("--window", type=int, default=24)
    ap.add_argument("--salt-chunk", type=int, default=8192,
                    help="bound on lag-window partition rows (salted "
                         "skew plan; 0 = plain per-conversation window)")
    args = ap.parse_args()

    # under spark-submit an active session exists; standalone we build one
    try:
        spark = SparkSession.getActiveSession()
    except Exception:
        spark = None
    if spark is None:
        from dtaidistance_spark.session import get_spark

        spark = get_spark(app_name="north_rule_pipeline")

    from dtaidistance_spark.kernels.dtw import DtwSettings
    from dtaidistance_spark.operators import rollup as R
    from dtaidistance_spark.operators.checkpoint import read_manifest, run_stage
    from dtaidistance_spark.operators.compress import compress_tier
    from dtaidistance_spark.operators.ingest import transcript_points
    from dtaidistance_spark.operators.matrix import distance_matrix
    from dtaidistance_spark.sources.transcripts import synth_transcripts

    wd = args.workdir
    fp = f"v2-convs{args.convs}-w{args.window}"
    t0 = time.time()

    if args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        transcripts = run_stage(
            spark, "transcripts",
            lambda: synth_transcripts(spark, n_convs=args.convs, seed=42),
            wd, fingerprint=fp)

    points = run_stage(spark, "points",
                       lambda: transcript_points(
                           transcripts,
                           salt_chunk=args.salt_chunk or None), wd,
                       fingerprint=fp)
    agg1m = run_stage(spark, "agg_1m",
                      lambda: R.rollup_points(points, "1m"), wd,
                      fingerprint=fp)
    agg1h = run_stage(spark, "agg_1h",
                      lambda: R.rollup_cascade(agg1m, "1h"), wd,
                      fingerprint=fp)
    agg1d = run_stage(spark, "agg_1d",
                      lambda: R.rollup_cascade(agg1h, "1d"), wd,
                      fingerprint=fp)
    run_stage(spark, "chunks_1h",
              lambda: compress_tier(agg1h, value_col="sum"), wd,
              fingerprint=fp)

    def build_series():
        tr_agg = agg1h.where(F.col("series_id").endswith(":turn_rate"))
        sids = (tr_agg.select("series_id").distinct()
                .orderBy("series_id").limit(args.series_limit))
        return R.dense_arrays(tr_agg.join(F.broadcast(sids), "series_id"),
                              "1h", "cnt")

    series = run_stage(spark, "series_1h", build_series, wd, fingerprint=fp)
    dist = run_stage(
        spark, "dtw_matrix",
        lambda: distance_matrix(series,
                                settings=DtwSettings(window=args.window),
                                order_col="series_id"),
        wd, fingerprint=fp)

    metrics = {
        "wall_sec": round(time.time() - t0, 2),
        # written_at is copied from the stage manifest: on a resumed run
        # it is UNCHANGED from the original run (run_stage never rewrites
        # a complete manifest), which is the machine-checkable proof that
        # the stage was skipped rather than recomputed
        "stages": {name: {k: m[k] for k in ("rows", "wall_sec", "checksum",
                                            "written_at")}
                   for name in ("transcripts", "points", "agg_1m", "agg_1h",
                                "agg_1d", "chunks_1h", "series_1h",
                                "dtw_matrix")
                   if (m := read_manifest(wd, name)) is not None},
    }
    # prefixed so callers can find it among Spark's own stdout noise
    print("PIPELINE_RESULT " + json.dumps(metrics))


if __name__ == "__main__":
    main()
