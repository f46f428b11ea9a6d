"""Benchmark workloads: seeded inputs, one timed job each, the staged
(traced) form of that job, and the checks on its output.

Inputs. The sf0.1 documents table holds doc_id 0..4999, and doc_id is
the only column the geocoder reads (its seed number and its ``src``
tag), so the generated input is that column alone: a replica k of the
5,000 documents is doc_id + k * 10^7, as scripts/scaling_bench.py
replicates. Seed 0 takes replicas 0..m-1, which gives the pinned counts
below; any other seed draws m distinct replica offsets. The frame is
cached and counted before timing, and the program sees nothing else.

Workloads (closed loop, one job after the other, one driver process):

- pyramid_resumable — the path a user runs: pipeline.run_pyramid into a
  fresh directory (parquet checkpoints, lineage, snapshot chain),
  pipeline.write_mbtiles, then run_pyramid again over the completed
  directory (resume). sf0.1 x1, small-input mode: per-task fixed cost
  and writes dominate.
- spjoin_x8 — geocode -> classify.classify_nodes ->
  spatial.point_in_polygon_join (broadcast arm and broadcast_ok=False
  arm) -> spatial.knn_join over sf0.1 x8. It never reaches assemble,
  tileassign or encode, so a pyramid-only change must read flat here.
"""

from __future__ import annotations

import os
import random
import shutil
import sqlite3
import time

from pyspark.sql import functions as F

import probes

SF_DOCS = 5000
REPLICA_STRIDE = 10_000_000
DOC_PARTITIONS = 8  # cores x 2, as scripts/scaling_bench.py partitions its input

# Seed-0 outputs, recorded from this benchmark and matching the sf0.1
# figures in ROADMAP.md (5,769 tiles / 34,114 features).
PINNED = {
    "pyramid_resumable": {
        "tiles": 5769,
        "features": 34114,
        "geometry_hash_sum": 2798760288899,
        "tiles_per_zoom": {0: 1, 1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 1, 8: 4,
                           9: 9, 10: 30, 11: 100, 12: 380, 13: 1402, 14: 3836},
    },
    "spjoin_x8": {
        "pip_rows": 11323,
        "pip_shuffle_rows": 11323,
        "knn_rows": 50097,
    },
}


def replica_offsets(seed: int, mult: int) -> list:
    if seed == 0:
        return list(range(mult))
    return sorted(random.Random(seed).sample(range(1, 100_000), mult))


def make_docs(spark, seed: int, mult: int):
    offs = F.array(*[F.lit(k) for k in replica_offsets(seed, mult)])
    rep = F.floor(F.col("id") / SF_DOCS).cast("int") + 1
    return (spark.range(0, SF_DOCS * mult, numPartitions=DOC_PARTITIONS)
            .select(((F.col("id") % SF_DOCS)
                     + F.element_at(offs, rep).cast("long") * REPLICA_STRIDE)
                    .alias("doc_id"))
            .cache())


def _hash_sum(*cols):
    # 32-bit slices of a 64-bit row hash: the sum cannot overflow a long
    return F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF)))


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _decision(session, df) -> dict:
    """The adaptive choice the program makes for ``df``, asked through
    session's public functions: small-input vs. scale mode and the
    Python-stage partition count."""
    spark = df.sparkSession
    nbytes = session.plan_input_bytes(df)
    return {"input_bytes": nbytes,
            "small_input": session.is_small_input(df, nbytes),
            "python_stage_partitions": session.python_stage_partitions(
                spark, input_df=df, input_bytes=nbytes)}


class Workload:
    name = ""
    mult = 1

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark, self.seed, self.work_dir = spark, seed, work_dir
        self.docs = None

    def build_inputs(self) -> int:
        if self.docs is not None:
            self.docs.unpersist(blocking=True)
        self.docs = make_docs(self.spark, self.seed, self.mult)
        return self.docs.count()

    def check_pinned(self, res: dict) -> list:
        if self.seed != 0:
            return []
        return [f"{k}: {res.get(k)} != pinned {v}"
                for k, v in PINNED[self.name].items()
                if v is not None and res.get(k) != v]


# ------------------------------------------------------------ pyramid
class PyramidResumable(Workload):
    name = "pyramid_resumable"
    mult = 1

    def __init__(self, *a):
        super().__init__(*a)
        from tilemaker_spark import pipeline, session
        from tilemaker_spark.config import default_config

        self.pipeline, self.session = pipeline, session
        self.cfg = default_config()
        self.zooms = list(range(self.cfg.minzoom, self.cfg.maxzoom + 1))
        self.n_jobs = 0

    def _fingerprint(self, tiles) -> dict:
        rows = (tiles.groupBy("z")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("feature_count").alias("f"),
                     F.sum("geometry_hash").alias("gh"),
                     F.sum(F.crc32("tile")).alias("crc"))
                .collect())
        return {int(r["z"]): (int(r["n"]), int(r["f"] or 0), int(r["gh"] or 0),
                              int(r["crc"] or 0)) for r in rows}

    def _snapshots(self, out: str) -> int:
        with open(os.path.join(out, "_lineage", "snapshots.jsonl")) as f:
            return sum(1 for line in f if line.strip())

    def job(self) -> dict:
        """One user run: fresh pyramid, MBTiles sink, resume."""
        self.n_jobs += 1
        out = os.path.join(self.work_dir, f"pyramid_{self.n_jobs}")
        shutil.rmtree(os.path.join(self.work_dir, f"pyramid_{self.n_jobs - 1}"),
                      ignore_errors=True)
        mbt = os.path.join(out, "tiles.mbtiles")
        t0 = time.perf_counter()
        tiles = self.pipeline.run_pyramid(self.spark, self.docs, out, cfg=self.cfg)
        t1 = time.perf_counter()
        self.pipeline.write_mbtiles(tiles, mbt, cfg=self.cfg)
        t2 = time.perf_counter()
        snaps = self._snapshots(out)
        resumed = self._fingerprint(
            self.pipeline.run_pyramid(self.spark, self.docs, out, cfg=self.cfg))
        t3 = time.perf_counter()
        return {"job_s": t3 - t0, "run_pyramid_s": t1 - t0,
                "write_mbtiles_s": t2 - t1, "resume_s": t3 - t2,
                "out": out, "tiles_df": tiles, "mbtiles": mbt,
                "snapshots": snaps, "resumed": resumed}

    def check(self, res: dict) -> tuple:
        """-> (errors, output rows, summary counts)."""
        first = self._fingerprint(res["tiles_df"])
        con = sqlite3.connect(res["mbtiles"])
        try:
            mbt_rows = con.execute("SELECT count(*) FROM tiles").fetchone()[0]
        finally:
            con.close()
        counts = {
            "tiles": sum(v[0] for v in first.values()),
            "features": sum(v[1] for v in first.values()),
            "geometry_hash_sum": sum(v[2] for v in first.values()),
            "tiles_per_zoom": {z: first[z][0] for z in sorted(first)},
        }
        errs = []
        if res["resumed"] != first:
            errs.append("resumed tiles differ from the first run's tiles")
        if self._snapshots(res["out"]) != res["snapshots"]:
            errs.append("resume recomputed a completed stage")
        if mbt_rows != counts["tiles"]:
            errs.append(f"mbtiles rows {mbt_rows} != tiles {counts['tiles']}")
        if sorted(first) != self.zooms:
            errs.append(f"zooms {sorted(first)} != {self.zooms}")
        errs += self.check_pinned(counts)
        return errs, counts["tiles"], counts

    def decisions(self, res: dict) -> dict:
        read = self.spark.read.parquet
        return {"features": _decision(self.session, read(os.path.join(res["out"], "stage_features"))),
                "base_tiles": _decision(self.session, read(os.path.join(res["out"], "stage_base_tiles")))}

    def staged(self) -> tuple:
        """The job's layers one at a time, each materialized before the
        next starts -> (per-layer metrics, summary counts)."""
        from tilemaker_spark import assemble, classify, encode, geocode, tileassign

        m = {}
        mat = probes.materialize

        stores, m["geocode.s"] = _timed(
            lambda: [mat(df) for df in geocode.geocode(self.docs)])
        m["geocode.rows_out"] = sum(df.count() for df in stores)
        nodes, ways, rels = stores

        feats, m["classify.s"] = _timed(lambda: [
            mat(classify.classify_nodes(nodes)), mat(classify.classify_ways(ways)),
            mat(classify.classify_relations(rels))])
        m["classify.rows_out"] = sum(df.count() for df in feats)

        features_df = assemble.assemble_features(nodes, ways, rels, *feats)
        features, m["assemble.s"] = _timed(lambda: mat(features_df))
        m["assemble.rows_out"] = features.count()
        m["assemble.shuffle_bytes"] = probes.shuffle_bytes(probes.plan_nodes(features_df))

        assigned_df = tileassign.assign_base_tiles(features, self.cfg.basezoom)
        assigned, m["tileassign.cover_s"] = _timed(lambda: mat(assigned_df))
        m["tileassign.cover_rows_out"] = assigned.count()

        rolled_df = tileassign.rollup_all_zooms(assigned, self.zooms,
                                                self.cfg.basezoom, cfg=self.cfg)
        rolled, m["tileassign.rollup_s"] = _timed(lambda: mat(rolled_df))
        nodes_r = probes.plan_nodes(rolled_df)
        m["tileassign.rollup_rows_in"] = probes.output_rows(nodes_r, "GenerateExec")
        m["tileassign.rollup_rows_out"] = rolled.count()
        m["tileassign.rollup_keep_ratio"] = (
            m["tileassign.rollup_rows_out"] / max(1, m["tileassign.rollup_rows_in"]))
        m["tileassign.rollup_shuffle_bytes"] = probes.shuffle_bytes(nodes_r)

        tiles_df = encode.encode_zoom(rolled, self.cfg)
        tiles, m["encode.s"] = _timed(lambda: mat(tiles_df))
        fp = self._fingerprint(tiles)
        m["encode.tiles_out"] = sum(v[0] for v in fp.values())
        m["encode.features_out"] = sum(v[1] for v in fp.values())
        m["encode.shuffle_bytes"] = probes.shuffle_bytes(probes.plan_nodes(tiles_df))
        counts = {"tiles": m["encode.tiles_out"], "features": m["encode.features_out"]}
        for df in [*stores, *feats, features, assigned, rolled, tiles]:
            df.unpersist()
        return m, counts

    def traced_pipeline(self, res: dict) -> dict:
        size = 0
        for root, _, files in os.walk(res["out"]):
            size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return {"pipeline.run_pyramid_s": res["run_pyramid_s"],
                "pipeline.write_mbtiles_s": res["write_mbtiles_s"],
                "pipeline.resume_s": res["resume_s"],
                "pipeline.checkpoint_bytes": size}


# ------------------------------------------------------------ spatial join
class SpatialJoin(Workload):
    name = "spjoin_x8"
    mult = 8

    def __init__(self, *a):
        super().__init__(*a)
        from tilemaker_spark import classify, geocode, session, spatial

        self.classify, self.geocode = classify, geocode
        self.session, self.spatial = session, spatial

    def _knn_inputs(self, pts):
        queries = pts.where(F.col("layer") == "poi").select("object_id", "lon", "latp")
        places = pts.where(F.col("layer") == "place").select(
            F.col("object_id").alias("place_id"), "lon", "latp")
        return queries, places

    @staticmethod
    def _pip_agg(df):
        return df.agg(F.count(F.lit(1)).alias("n"),
                      _hash_sum("object_id", "layer", "district_id").alias("h"))

    @classmethod
    def _pip_fp(cls, df):
        r = cls._pip_agg(df).collect()[0]
        return int(r["n"]), int(r["h"] or 0)

    @staticmethod
    def _knn_fp(df):
        r = df.agg(F.count(F.lit(1)).alias("n"),
                   _hash_sum("object_id", "place_id", "dist2", "rank").alias("h"),
                   F.countDistinct("object_id").alias("q")).collect()[0]
        return int(r["n"]), int(r["h"] or 0), int(r["q"])

    def job(self) -> dict:
        sp = self.spatial
        t0 = time.perf_counter()
        nodes, _, _ = self.geocode.geocode(self.docs)
        pts = self.classify.classify_nodes(nodes)
        districts = sp.district_table(self.spark)
        pip = self._pip_fp(sp.point_in_polygon_join(pts, districts))
        pip_shuffle = self._pip_fp(
            sp.point_in_polygon_join(pts, districts, broadcast_ok=False))
        knn = self._knn_fp(sp.knn_join(*self._knn_inputs(pts)))
        return {"job_s": time.perf_counter() - t0, "pip": pip,
                "pip_shuffle": pip_shuffle, "knn": knn, "points": pts}

    def check(self, res: dict) -> tuple:
        (n_pip, _), (n_knn, _, n_q) = res["pip"], res["knn"]
        counts = {"pip_rows": n_pip, "pip_shuffle_rows": res["pip_shuffle"][0],
                  "knn_rows": n_knn}
        errs = []
        if res["pip"] != res["pip_shuffle"]:
            errs.append(f"PIP arms differ: {res['pip']} vs {res['pip_shuffle']}")
        if not (0 < n_q <= n_knn <= n_q * self.spatial.KNN_K):
            errs.append(f"kNN rows {n_knn} for {n_q} queries")
        if n_pip == 0:
            errs.append("PIP returned no rows")
        errs += self.check_pinned(counts)
        return errs, n_pip + n_knn, counts

    def decisions(self, res: dict) -> dict:
        return {"points": _decision(self.session, res["points"])}

    def staged(self) -> tuple:
        sp, mat = self.spatial, probes.materialize
        m = {}
        nodes, m["geocode.s"] = _timed(lambda: mat(self.geocode.geocode(self.docs)[0]))
        m["geocode.rows_out"] = nodes.count()
        pts, m["classify.s"] = _timed(lambda: mat(self.classify.classify_nodes(nodes)))
        m["classify.rows_out"] = pts.count()
        districts = sp.district_table(self.spark)

        bcast = self._pip_agg(sp.point_in_polygon_join(pts, districts))
        n_pip, m["spatial.pip_s"] = _timed(lambda: int(bcast.collect()[0]["n"]))
        nodes_b = probes.plan_nodes(bcast)
        m["spatial.pip_rows"] = n_pip
        m["spatial.pip_candidates"] = probes.output_rows(nodes_b, "BroadcastHashJoinExec")
        shuf = sp.point_in_polygon_join(pts, districts, broadcast_ok=False)
        (n_pip_s, _), m["spatial.pip_shuffle_s"] = _timed(lambda: self._pip_fp(shuf))
        (n_knn, _, _), m["spatial.knn_s"] = _timed(
            lambda: self._knn_fp(sp.knn_join(*self._knn_inputs(pts))))
        m["spatial.knn_rows"] = n_knn
        nodes.unpersist()
        pts.unpersist()
        return m, {"pip_rows": n_pip, "pip_shuffle_rows": n_pip_s, "knn_rows": n_knn}

    def traced_pipeline(self, res: dict) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (PyramidResumable, SpatialJoin)}
