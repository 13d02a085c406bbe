"""Point-table sources with the reference's cast-on-entry contract.

Every reference entry point coerces (id -> string, latitude -> double,
longitude -> double) at ingestion (DataStore.scala:36, SparkDS.scala:19,
CosmosDataStore.scala:21). CSV reading mirrors the notebook's header'd,
quoted/escaped provider load (01_geospatial_searches.scala:71-75).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def coerce_points(
    df: DataFrame,
    id_col: str = "id",
    lat_col: str = "latitude",
    lon_col: str = "longitude",
) -> DataFrame:
    """Project + cast to the engine point contract (R3). Extra columns are
    carried through untouched (payload passthrough)."""
    others = [c for c in df.columns if c not in (id_col, lat_col, lon_col)]
    return df.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(lat_col).cast("double").alias("latitude"),
        F.col(lon_col).cast("double").alias("longitude"),
        *[F.col(c) for c in others],
    )


def read_csv(spark: SparkSession, path: str, multiline: bool = False) -> DataFrame:
    """Header'd RFC-style CSV (quote-doubling escape) — the reference
    notebook's parser options (R2, 01_geospatial_searches.scala:71-75).
    multiline=True for payloads with embedded newlines."""
    return spark.read.csv(
        path, header=True, quote='"', escape='"', multiLine=multiline
    )


def read_points_csv(spark: SparkSession, path: str, **renames: str) -> DataFrame:
    """Header'd, quoted/escaped CSV (R2) -> coerced point table.
    renames: id_col/lat_col/lon_col passthrough to coerce_points."""
    return coerce_points(read_csv(spark, path), **renames)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source (one object per line — the interchange format of
    most crawl/training pipelines). An explicit schema skips Spark's
    inference pass (one full extra scan at 100 TB — always pass it in
    production); JSON string escaping makes embedded newlines/quotes/
    unicode lossless by construction."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def read_points_jsonl(spark: SparkSession, path: str, schema=None,
                      **renames: str) -> DataFrame:
    return coerce_points(read_jsonl(spark, path, schema), **renames)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC columnar source — the other columnar interchange format next to
    parquet (same pushdown/pruning behavior under Catalyst)."""
    return spark.read.orc(path)


def read_points_orc(spark: SparkSession, path: str, **renames: str) -> DataFrame:
    return coerce_points(read_orc(spark, path), **renames)
