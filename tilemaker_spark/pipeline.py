"""End-to-end pyramid pipeline with resumable checkpoint stages.

Stage graph (SURVEY.md §3.1 "Spark shape"):

  documents --geocode--> stores (nodes/ways/relations)
            --classify--> feature emissions
            --assemble--> features+geometry        [checkpoint]
            --assign_tiles (base zoom)-->          [checkpoint]
            --rollup + encode (all zooms)--> tiles [checkpoint, by z]
            --package--> file-per-tile / mbtiles

Each checkpoint is a Parquet table (the sandbox stand-in for Iceberg
snapshots — same resumability contract: a completed stage directory is
reused on re-run, per-partition lineage metrics recorded alongside).
Replaces the reference's in-process TileIndex shard store
(include/tile_data.h:12) per the north_rule.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import assemble, classify, geocode, tileassign
from .config import Config, default_config
from .encode import encode_zoom

BASE_TILE_COLS = ["object_id", "elem", "layer", "kind", "attrs", "attrs_num",
                  "attrs_bool", "as_centroid", "geom", "lon", "latp",
                  "tile_x", "tile_y", "feat_minzoom"]


def _stage_done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _write_stage(df: DataFrame, path: str, partition_by: list | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def _append_snapshot(out_dir: str, stage: str, rows: int, partitions: int) -> dict:
    """Iceberg-style snapshot chain (north_rule): every completed stage
    checkpoint appends a record with a monotonically increasing
    snapshot_id and a parent pointer to the previous snapshot — an
    append-only JSONL standing in for Iceberg's snapshot log (the
    runtime is absent in this sandbox; the provenance contract is not).
    Resumed runs append nothing for reused stages, so the chain is an
    audit trail of what actually recomputed."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "snapshots.jsonl")
    parent = None
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                if line.strip():
                    parent = json.loads(line)["snapshot_id"]
    snap = {"snapshot_id": (parent + 1) if parent is not None else 0,
            "parent_id": parent, "stage": stage, "ts": time.time(),
            "rows": rows, "partitions": partitions}
    with open(path, "a") as f:
        f.write(json.dumps(snap) + "\n")
    return snap


def _lineage(spark: SparkSession, df: DataFrame, stage: str, out_dir: str,
             hash_col: str | None = None) -> dict:
    """Per-partition lineage + row-count (+ optional content hash) metrics
    (north_rule). Written as JSON next to the stage table, and stamped
    into the snapshot chain (see _append_snapshot)."""
    aggs = [F.count(F.lit(1)).alias("rows")]
    if hash_col:
        aggs.append(F.sum(F.crc32(F.col(hash_col).cast("string"))).alias("content_hash"))
    per_part = (df.withColumn("_pid", F.spark_partition_id())
                  .groupBy("_pid").agg(*aggs).collect())
    rows = int(sum(r["rows"] for r in per_part))
    snap = _append_snapshot(out_dir, stage, rows, len(per_part))
    m = {
        "stage": stage,
        "ts": time.time(),
        "snapshot_id": snap["snapshot_id"],
        "parent_snapshot_id": snap["parent_id"],
        "partitions": len(per_part),
        "rows": rows,
        "per_partition": [{"pid": int(r["_pid"]), "rows": int(r["rows"]),
                           **({"hash": int(r["content_hash"] or 0)} if hash_col else {})}
                          for r in per_part],
    }
    with open(os.path.join(out_dir, f"metrics_{stage}.json"), "w") as f:
        json.dump(m, f)
    return m


def build_features(nodes: DataFrame, ways: DataFrame, relations: DataFrame) -> DataFrame:
    node_feats = classify.classify_nodes(nodes)
    way_feats = classify.classify_ways(ways)
    rel_feats = classify.classify_relations(relations)
    return assemble.assemble_features(nodes, ways, relations,
                                      node_feats, way_feats, rel_feats)


def pyramid_df(spark: SparkSession, docs: DataFrame, cfg: Config | None = None,
               zooms: list | None = None) -> DataFrame:
    """Lazy end-to-end pyramid: documents -> tiles DataFrame, no
    checkpoint writes — one declarative plan for Catalyst to optimize
    whole (used by entry()/bench; run_pyramid adds resumability)."""
    cfg = cfg or default_config()
    zooms = zooms if zooms is not None else list(range(cfg.minzoom, cfg.maxzoom + 1))
    nodes, ways, relations = geocode.geocode(docs)
    # assign_base_tiles consumes features through two filter branches
    # (points / geometries) — eager localCheckpoint so the
    # classify+assemble subtree executes once (run_pyramid gets the same
    # effect from its parquet stage checkpoint)
    features = build_features(nodes, ways, relations).localCheckpoint()
    assigned = tileassign.assign_base_tiles(features, cfg.basezoom)
    rolled = tileassign.rollup_all_zooms(assigned, zooms, cfg.basezoom, cfg=cfg)
    return encode_zoom(rolled, cfg)


def run_pyramid(spark: SparkSession, docs: DataFrame, out_dir: str,
                cfg: Config | None = None, zooms: list | None = None,
                resume: bool = True) -> DataFrame:
    """Full z pyramid -> tiles DataFrame (z,x,y,tile,feature_count,...).

    Writes checkpoints under ``out_dir`` and returns the tiles DF (read
    back from the checkpoint parquet — stable for downstream use). All
    zooms share one rollup+encode job and one z-partitioned checkpoint.
    """
    cfg = cfg or default_config()
    zooms = zooms if zooms is not None else list(range(cfg.minzoom, cfg.maxzoom + 1))
    os.makedirs(out_dir, exist_ok=True)
    metrics_dir = os.path.join(out_dir, "_lineage")

    # ---- stage 1: features (classify + assemble)
    feat_path = os.path.join(out_dir, "stage_features")
    if not (resume and _stage_done(feat_path)):
        nodes, ways, relations = geocode.geocode(docs)
        features = build_features(nodes, ways, relations)
        _write_stage(features, feat_path)
        _lineage(spark, spark.read.parquet(feat_path), "features", metrics_dir)
    features = spark.read.parquet(feat_path)

    # ---- stage 2: base-zoom tile assignment (the big fan-out)
    base_path = os.path.join(out_dir, "stage_base_tiles")
    if not (resume and _stage_done(base_path)):
        assigned = tileassign.assign_base_tiles(features, cfg.basezoom)
        # cluster by tile for locality of every downstream rollup/encode
        # (pinned count: an unpinned repartition(col) may be rewritten by
        # AQE's local shuffle read, silently dropping the clustering)
        from .session import python_stage_partitions

        assigned = assigned.repartition(
            python_stage_partitions(spark, input_df=features),
            F.col("tile_x"), F.col("tile_y"))
        _write_stage(assigned.select(*BASE_TILE_COLS), base_path)
        _lineage(spark, spark.read.parquet(base_path), "base_tiles", metrics_dir)
    base_assigned = spark.read.parquet(base_path)

    # ---- stage 3: rollup + encode — the whole pyramid in one job: one
    # scan of the base table, map-side-combined dedup, one encode shuffle.
    tiles_path = os.path.join(out_dir, "stage_tiles")
    if not (resume and _stage_done(tiles_path)):
        rolled = tileassign.rollup_all_zooms(base_assigned, zooms, cfg.basezoom, cfg=cfg)
        tiles = encode_zoom(rolled, cfg)
        _write_stage(tiles, tiles_path, partition_by=["z"])
        _lineage(spark, spark.read.parquet(tiles_path), "tiles", metrics_dir,
                 hash_col="geometry_hash")
    return spark.read.parquet(tiles_path)


# ------------------------------------------------------------------ sinks
def write_tile_files(tiles: DataFrame, out_dir: str) -> int:
    """S9: {out}/{z}/{x}/{y}.pbf file-per-tile sink
    (reference: src/tile_worker.cpp:236-249). Distributed-friendly:
    executors write via foreachPartition."""
    import pathlib

    def _write_part(rows):
        for r in rows:
            d = pathlib.Path(out_dir) / str(r["z"]) / str(r["x"])
            d.mkdir(parents=True, exist_ok=True)
            (d / f"{r['y']}.pbf").write_bytes(bytes(r["tile"]))

    tiles.select("z", "x", "y", "tile").foreachPartition(_write_part)
    return 0


def write_mbtiles(tiles: DataFrame, path: str, cfg: Config | None = None,
                  metadata: dict | None = None) -> str:
    """S10: MBTiles SQLite sink with the TMS y-flip (2^z - 1 - y)
    (reference: src/mbtiles.cpp:29) — single-process packaging pass over
    the tiles table, like the reference's mutex-serialized writer."""
    import sqlite3

    cfg = cfg or default_config()
    rows = tiles.select("z", "x", "y", "tile").toLocalIterator()
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.execute("CREATE TABLE tiles (zoom_level int, tile_column int, tile_row int, tile_data blob)")
    cur.execute("CREATE UNIQUE INDEX tile_index ON tiles (zoom_level, tile_column, tile_row)")
    cur.execute("CREATE TABLE metadata (name text, value text)")
    md = {
        "name": cfg.name, "format": "pbf",
        "minzoom": str(cfg.minzoom), "maxzoom": str(cfg.maxzoom),
        "json": json.dumps({"vector_layers": [
            {"id": group[0], "minzoom": min(cfg.layers[s].minzoom for s in group),
             "maxzoom": max(cfg.layers[s].maxzoom for s in group)}
            for group in cfg.layer_order]}),
    }
    md.update(metadata or {})
    cur.executemany("INSERT INTO metadata VALUES (?,?)", list(md.items()))
    for r in rows:
        flipped = (1 << r["z"]) - 1 - r["y"]
        cur.execute("INSERT INTO tiles VALUES (?,?,?,?)",
                    (r["z"], r["x"], flipped, sqlite3.Binary(bytes(r["tile"]))))
    con.commit()
    con.close()
    return path
