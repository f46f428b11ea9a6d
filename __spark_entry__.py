"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship query — the full z0-z14 MVT pyramid over the
sf0.001 documents table (geocode -> classify -> assemble -> tile
assign -> rollup -> per-tile MVT encode), returning the tiles table.

queries()/oracle_sql(): per-operator correctness pairs (SURVEY.md §2);
the Spark side runs the real engine code path, the SQL side re-derives
the answer in DuckDB from first principles.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: z0-z14 MVT pyramid on /root/testdata/sf0.001."""
    from tilemaker_spark import pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tiles = pipeline.pyramid_df(spark, docs)
    # drop the raw tile bytes for a stable, comparable schema
    return tiles.select("z", "x", "y", "feature_count", "geometry_hash", "raw_bytes")


def _query_modules() -> tuple:
    from tilemaker_spark import (queries_bytes, queries_core, queries_media,
                                 queries_spatial, queries_text)

    return (queries_core, queries_bytes, queries_text, queries_spatial,
            queries_media)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict = {}
    for mod in _query_modules():
        q.update(mod.QUERIES)
    return q


def oracle_sql() -> dict[str, str]:
    o: dict = {}
    for mod in _query_modules():
        o.update(mod.ORACLES)
    return o
