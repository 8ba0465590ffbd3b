"""Lineage layer — run log and row provenance, append-only parquet.

Capability parity with the reference meta schema (reference
``sql/15_meta.sql:27-36`` ``load_log``, ``:43-50`` ``source_trace``;
policy at ``architecture.md:91-99``):

* ``load_log``    — one row per pipeline run: endpoint, year span,
  rows inserted/updated, started/finished timestamps.
* ``source_trace``— one row per landed page: endpoint, year,
  source_url, source_hash, ingested_at.

Counters are computed relationally by the pipeline (one aggregate per
load, ``pipeline._load_counts``), not by driver-side iteration; appends
are tiny single-partition writes.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ipeds_etl_spark import fsutil

LOAD_LOG_SCHEMA = T.StructType(
    [
        T.StructField("load_id", T.LongType(), False),
        T.StructField("endpoint", T.StringType(), False),
        T.StructField("year_start", T.IntegerType(), True),
        T.StructField("year_end", T.IntegerType(), True),
        T.StructField("rows_inserted", T.LongType(), True),
        T.StructField("rows_updated", T.LongType(), True),
        T.StructField("started_at", T.TimestampType(), False),
        T.StructField("finished_at", T.TimestampType(), False),
    ]
)

SOURCE_TRACE_SCHEMA = T.StructType(
    [
        T.StructField("endpoint", T.StringType(), False),
        T.StructField("year", T.IntegerType(), False),
        T.StructField("source_url", T.StringType(), False),
        T.StructField("source_hash", T.StringType(), False),
        T.StructField("ingested_at", T.TimestampType(), False),
    ]
)


def append_load_log(
    spark: SparkSession,
    meta_path: str,
    endpoint: str,
    year_start: int | None,
    year_end: int | None,
    rows_inserted: int,
    rows_updated: int,
    started_at: datetime,
) -> None:
    finished = datetime.now(timezone.utc).replace(tzinfo=None)
    # existence probe, not a bare except: a transient read failure must
    # propagate rather than silently restart load_id numbering at 1
    if fsutil.table_exists(spark, f"{meta_path}/load_log"):
        prev_max = (
            spark.read.schema(LOAD_LOG_SCHEMA)
            .parquet(f"{meta_path}/load_log")
            .agg(F.max("load_id"))
            .first()[0]
            or 0
        )
    else:
        prev_max = 0
    row = [
        (
            prev_max + 1,
            endpoint,
            year_start,
            year_end,
            rows_inserted,
            rows_updated,
            started_at.replace(tzinfo=None),
            finished,
        )
    ]
    spark.createDataFrame(row, LOAD_LOG_SCHEMA).coalesce(1).write.mode("append").parquet(
        f"{meta_path}/load_log"
    )


def append_source_trace(spark: SparkSession, meta_path: str, endpoint: str, pages: DataFrame) -> None:
    (
        pages.select(
            F.lit(endpoint).alias("endpoint"),
            F.col("year").cast("int").alias("year"),
            "source_url",
            "source_hash",
            "ingested_at",
        )
        .write.mode("append")
        .parquet(f"{meta_path}/source_trace")
    )


def read_load_log(spark: SparkSession, meta_path: str) -> DataFrame:
    return spark.read.schema(LOAD_LOG_SCHEMA).parquet(f"{meta_path}/load_log")
