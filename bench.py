"""Benchmark harness (driver contract): headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line.

Headline metric follows BASELINE.json: tiles/sec for the full z0-z14
MVT pyramid, plus spatial-join rows/sec, over the geocoded documents
table. Run with a different SPARK_GRAFT_CPUS to produce the two-
parallelism scaling evidence recorded in BENCH.md.

Measurement protocol (BENCH.md): this VM shares a physical host with
co-tenants that cause 2-10x wall swings, so every query is timed as
min over SPARK_GRAFT_BENCH_REPS (default 3) sequential reps; per-rep
values are reported under "reps" so single-sample noise is visible.
pyramid_df & friends are lazy (no disk checkpoints), so each rep
re-executes the full job.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    from tilemaker_spark.session import get_spark
    from tilemaker_spark import geocode, pipeline

    spark = get_spark(app_name=f"bench[{cpus}]", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.count()  # warm the scan/JVM outside the timed sections

    queries: dict = {}
    reps: dict = {}
    extras: dict = {}

    def timed(name, fn):
        vals = []
        out = None
        for _ in range(n_reps):
            t0 = time.time()
            out = fn()
            vals.append(round(time.time() - t0, 3))
        queries[name] = min(vals)
        reps[name] = vals
        return out

    # ---- q_pyramid: full z0-z14 MVT pyramid (the flagship job)
    def run_pyramid():
        tiles = pipeline.pyramid_df(spark, docs)
        return tiles.selectExpr("count(*) AS n", "sum(feature_count) AS feats",
                                "sum(raw_bytes) AS rb").collect()[0]

    agg = timed("q_pyramid", run_pyramid)
    extras["tiles"] = int(agg["n"])
    extras["tiles_per_sec"] = round(agg["n"] / queries["q_pyramid"], 2)
    extras["encoded_features"] = int(agg["feats"])

    # ---- q_features: geocode -> classify -> assemble throughput
    def run_features():
        nodes, ways, rels = geocode.geocode(docs)
        features = pipeline.build_features(nodes, ways, rels)
        return features.count()

    n_feat = timed("q_features", run_features)
    extras["features"] = n_feat
    extras["features_per_sec"] = round(n_feat / queries["q_features"], 2)

    # ---- q_tile_assign: base-zoom cover join (feature x tile fan-out)
    from tilemaker_spark import tileassign

    def run_assign():
        nodes, ways, rels = geocode.geocode(docs)
        features = pipeline.build_features(nodes, ways, rels)
        return tileassign.assign_base_tiles(features, 14).count()

    n_assigned = timed("q_tile_assign", run_assign)
    extras["assigned_rows"] = n_assigned
    extras["assign_rows_per_sec"] = round(n_assigned / queries["q_tile_assign"], 2)

    # ---- q_spatial_join: cell-index point-in-polygon join (north_rule)
    from tilemaker_spark import spatial

    n_join = timed("q_spatial_join",
                   lambda: spatial.poi_district_join(spark, sf_dir).count())
    extras["join_rows"] = n_join
    extras["join_rows_per_sec"] = round(n_join / queries["q_spatial_join"], 2)

    # ---- q_dedup: MinHash-LSH near-duplicate candidates over documents
    from tilemaker_spark import queries_text

    n_pairs = timed("q_dedup_minhash",
                    lambda: queries_text.q_minhash_lsh_pairs(spark, sf_dir).count())
    extras["dedup_pairs"] = n_pairs

    total = round(sum(queries.values()), 3)
    out = {
        "metric": "z0-z14 pyramid wall seconds (sum of headline queries, min-of-%d)" % n_reps,
        "value": total,
        "unit": "sec",
        "queries": queries,
        "reps": reps,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": cpus,
        **extras,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
