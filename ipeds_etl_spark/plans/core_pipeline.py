"""Raw → core pipeline: the reference's E2 lifecycle as one Spark job.

Capability parity with ``load_core_from_raw`` (reference
``etl/core_io.py:119-164``): stream raw pages in (year, page) order,
expand payload arrays, backfill missing ``year`` from the page row,
normalize every record through the endpoint's registry contract, and
merge idempotently into the typed core table keyed on the registry PK.

Where the reference maps dict-at-a-time in Python and batches 1000-row
upserts, this pipeline is a single declarative plan: explode →
generated, staged select that cleans, coalesces and casts every field
(``registry.mapper_select_stages``) → anti-join merge → per-year
dynamic partition overwrite. No Python executes per record, and the
mapper stage compiles to one whole-stage-codegen class (pinned by
``tests/test_pipeline_e2e.py`` with codegen fallback off).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ipeds_etl_spark import fsutil, registry
from ipeds_etl_spark.operators.merge import (
    overwrite_partitions_staged,
    recover_swaps,
    upsert_on_pk,
)
from ipeds_etl_spark.sources import raw as raw_io


def map_records(endpoint: str, records: DataFrame, rec_col: str = "rec") -> DataFrame:
    """Apply the endpoint's registry contract to exploded raw records.

    ``records`` carries ``rec: map<string,string>`` plus ``page_year``;
    every registry field becomes safe_cast(coalesce_pick(candidates)),
    with ``year`` backfilled from the page when the record lacks it.
    """
    # SQL-text stages: one selectExpr gateway call per stage instead of
    # thousands of Py4J Column calls for a 100-field contract
    from ipeds_etl_spark.functions.cleaning import sql_lit

    out = registry.select_mapped(
        records,
        endpoint,
        getter_sql=lambda name: f"{rec_col}[{sql_lit(name)}]",
        keep=("page_year",),
    )
    return out.withColumn("year", F.coalesce(F.col("year"), F.col("page_year"))).drop(
        "page_year"
    )


def map_from_raw(
    spark: SparkSession,
    endpoint: str,
    raw_path: str,
    years: Sequence[int] | None = None,
) -> DataFrame:
    """Raw pages → typed, normalized records (pre-merge): scan (year-
    pruned), explode payloads, apply the registry contract, drop rows
    violating PK completeness."""
    ep = registry.get_endpoint(endpoint)
    pages = raw_io.scan_pages(spark, raw_path, years)
    mapped = map_records(endpoint, raw_io.scan_records(pages))
    return mapped.filter(F.col(ep.pk[0]).isNotNull())  # PK completeness contract


def write_core(
    spark: SparkSession,
    endpoint: str,
    mapped: DataFrame,
    core_path: str,
    backend: str = "inplace",
    years: Sequence[int] | None = None,
) -> None:
    """Merge mapped records into the core table keyed on the registry
    PK, rewriting only the touched year partitions.

    ``years`` are the distinct years in ``mapped`` when the caller has
    already computed them; if omitted, one job collects them.

    ``backend="inplace"`` (default): plain partition-dir layout via the
    crash-recoverable marker swap (``merge.overwrite_partitions_staged``)
    — readable by any direct ``spark.read.parquet``.
    ``backend="txn"``: manifest-committed layout (``operators.txn``) —
    atomic multi-partition commit + reader isolation; read the table
    back with ``txn.read_table``. Use on object stores or under
    concurrent readers."""
    ep = registry.get_endpoint(endpoint)
    if backend == "txn":
        from ipeds_etl_spark.operators.txn import upsert_into_txn_table

        upsert_into_txn_table(spark, core_path, mapped, list(ep.pk), "year")
        return
    if backend != "inplace":
        raise ValueError(f"backend must be 'inplace' or 'txn', got {backend!r}")
    recover_swaps(spark, core_path)
    if fsutil.table_exists(spark, core_path):
        target = spark.read.schema(registry.struct_type(endpoint)).parquet(core_path)
        if years is None:
            years = [r[0] for r in mapped.select("year").distinct().collect()]
        touched = target.filter(F.col("year").isin(list(years)))
        merged = upsert_on_pk(touched, mapped, ep.pk)
    else:
        merged = upsert_on_pk(mapped.limit(0), mapped, ep.pk)
    overwrite_partitions_staged(spark, merged, core_path, "year")


def load_core_from_raw(
    spark: SparkSession,
    endpoint: str,
    raw_path: str,
    core_path: str,
    years: Sequence[int] | None = None,
) -> DataFrame:
    """Full E2 lifecycle; returns the mapped (pre-merge) DataFrame so
    callers can observe counts. Writes the merged core table."""
    mapped = map_from_raw(spark, endpoint, raw_path, years)
    write_core(spark, endpoint, mapped, core_path)
    return mapped
