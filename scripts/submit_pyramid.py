"""Cluster job entry point: the z-pyramid via ``spark-submit --py-files``.

The north rule requires the whole job to run via ``spark-submit
--py-files`` on a multi-executor cluster. This script is that entry
point — it takes its SparkSession from spark-submit (master, executor
count/memory, shuffle partitions all come from the submit command, NOT
from code), so the same file runs unchanged on local[N] and on a
1000-executor cluster:

    zip -r /tmp/tilemaker_spark.zip tilemaker_spark
    spark-submit \
        --master <cluster-or-local[N]> \
        --py-files /tmp/tilemaker_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.execution.arrow.pyspark.enabled=true \
        scripts/submit_pyramid.py \
        --input /path/to/documents.parquet \
        --out /path/to/run_dir [--mbtiles out.mbtiles]

``--out`` is the checkpoint/lineage directory (stage parquet +
_lineage metrics); a re-submit after a failure resumes from the last
completed stage unless --no-resume is given. The stages are features,
base-zoom tiles, and one tiles table for all zooms (partitioned by z).
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--out", required=True, help="run dir (checkpoints + lineage)")
    p.add_argument("--config", default=None, help="layer-config JSON (reference format)")
    p.add_argument("--minzoom", type=int, default=None)
    p.add_argument("--maxzoom", type=int, default=None)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--mbtiles", default=None, help="also write an MBTiles file here")
    p.add_argument("--tile-files", default=None, help="also write {z}/{x}/{y}.pbf under this dir")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    # spark-submit owns master/executors/memory; only analytics defaults
    # that are safe to set programmatically go here (and only if unset).
    builder = SparkSession.builder.appName("tilemaker_spark.pyramid")
    spark = builder.getOrCreate()
    # respect anything the operator passed via --conf (including an
    # explicit false): only fill keys absent from the submitted conf —
    # spark.conf.get() would return the session DEFAULT for unset keys,
    # making "was it explicitly set?" undecidable from the runtime conf
    submitted = dict(spark.sparkContext.getConf().getAll())
    for k, v in (
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.execution.arrow.maxRecordsPerBatch", "131072"),
        # per-call error-context capture costs 4 Py4J round-trips per
        # Column op (see session.get_spark) — read lazily at the first
        # wrapped API call, so setting it here (before any DataFrame op)
        # takes effect
        ("spark.python.sql.dataFrameDebugging.enabled", "false"),
    ):
        if k not in submitted:
            spark.conf.set(k, v)

    from tilemaker_spark import pipeline
    from tilemaker_spark.config import Config, default_config

    if args.config:
        with open(args.config) as f:
            cfg = Config.from_json(f.read())
    else:
        cfg = default_config()
    if args.minzoom is not None:
        cfg.minzoom = args.minzoom
    if args.maxzoom is not None:
        cfg.maxzoom = args.maxzoom

    t0 = time.time()
    docs = spark.read.parquet(args.input)
    tiles = pipeline.run_pyramid(spark, docs, args.out, cfg=cfg,
                                 resume=not args.no_resume)

    n_tiles, n_feat = tiles.selectExpr(
        "count(*)", "coalesce(sum(feature_count), 0)").first()
    wall = time.time() - t0
    print(f"pyramid: {n_tiles} tiles / {n_feat} features in {wall:.1f}s "
          f"-> {args.out}", file=sys.stderr)

    if args.tile_files:
        n = pipeline.write_tile_files(tiles, args.tile_files)
        print(f"tile files: {n} -> {args.tile_files}", file=sys.stderr)
    if args.mbtiles:
        pipeline.write_mbtiles(tiles, args.mbtiles, cfg=cfg)
        print(f"mbtiles -> {args.mbtiles}", file=sys.stderr)

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
