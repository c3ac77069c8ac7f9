#!/usr/bin/env python
"""spark-submit entry point for the checkpointed conflation job.

Packaging + launch (the north rule's deployment shape), from the root of
the checkout:

    zip -qr /tmp/osm_merge_spark.zip osm_merge_spark
    spark-submit --master local[32] \
        --py-files /tmp/osm_merge_spark.zip \
        scripts/submit_conflation.py \
        --sf-dir /root/testdata/sf0.1 --out /tmp/conflation_out --run-id run1

On a real cluster only ``--master`` changes (yarn/k8s/standalone); the job is
checkpointed per bucket with lineage, so a killed run resumes with the same
``--run-id``.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--salt-hot-threshold", type=int, default=2000)
    ap.add_argument("--replicas", type=int, default=1)
    args = ap.parse_args()

    from osm_merge_spark.operators import conflate as C
    from osm_merge_spark.plans import lineage as L
    from osm_merge_spark.session import build_session
    from osm_merge_spark.sources import synth

    spark = build_session(app_name=f"conflation-{args.run_id}")
    primary = synth.external_ways(spark, args.sf_dir, replicas=args.replicas)
    secondary = synth.osm_ways(spark, args.sf_dir, replicas=args.replicas)

    def job(primary_bucket):
        conflated, _new = C.conflate(
            primary_bucket, secondary, salt_hot_threshold=args.salt_hot_threshold
        )
        return conflated

    t0 = time.time()
    result = L.run_bucketed(
        spark, primary, job, args.out, run_id=args.run_id, id_col="ext_id", n_buckets=args.buckets
    )
    result["wall_secs"] = round(time.time() - t0, 2)
    print(json.dumps(result))
    L.lineage_report(spark, args.out).show(50, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
