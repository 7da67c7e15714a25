#!/usr/bin/env python
"""spark-submit entry point: the full KG-construction DAG with snapshot
checkpoints and resume.

    spark-submit --py-files anno_spark.zip scripts/run_pipeline.py \
        --pages <parquet-path | synth:N> \
        --output /path/to/lake [--resume] [--min-similarity 0.5]

On a cluster, swap --master/--deploy-mode as usual; the job only talks
to SparkSession, so YARN/K8s/standalone all work unchanged. Each stage
commits a snapshot into <output>/manifest.json; re-running with
--resume picks up after the last committed stage (north rule).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet path, or synth:N")
    ap.add_argument("--output", required=True, help="snapshot/lake root dir")
    ap.add_argument("--resume", action="store_true", default=False)
    ap.add_argument("--min-similarity", type=float, default=0.5)
    ap.add_argument("--max-bucket-size", type=int, default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from anno_spark.plans import pipeline
    from anno_spark.plans.snapshots import SnapshotStore
    from anno_spark.session import get_spark
    from anno_spark.sources.pages import synthesize_pages

    spark = get_spark(master=args.master, app_name="anno-spark-pipeline")
    store = SnapshotStore(args.output)
    if not args.resume:
        for stage in pipeline.STAGES:
            store.invalidate(stage)

    if args.pages.startswith("synth:"):
        pages = synthesize_pages(spark, int(args.pages.split(":", 1)[1]))
    else:
        pages = spark.read.parquet(args.pages)

    res = pipeline.run(
        spark,
        pages,
        store=store,
        min_similarity=args.min_similarity,
        max_bucket_size=args.max_bucket_size,
    )
    summary = {
        "resumed_stages": res.resumed_stages,
        "computed_stages": res.computed_stages,
        "rows": {name: store.committed(name)["rows"] for name in pipeline.STAGES},
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
