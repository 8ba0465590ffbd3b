"""End-to-end smoke: fixture JSON pages → raw → core → views.

Mirrors the reference's planned ``test_end_to_end_small.py``
(reference architecture.md:137,173) with the FIXTURES.md F1/F2 value
cases: sentinels, alias fallbacks, malformed casts, year backfill,
hash-guarded page rewrite, and run-twice idempotency.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ipeds_etl_spark import pipeline
from ipeds_etl_spark.sources import raw as raw_io
from ipeds_etl_spark.sources.http_ingest import fetch_endpoint_pages


def _fixture_pages(year: int) -> list[list[dict]]:
    """Two pages of directory records exercising FIXTURES.md F2 cases."""
    page1 = [
        # clean record
        {"unitid": 101, "year": year, "inst_name": "Alpha University", "sector": 1,
         "latitude": 44.5, "longitude": -122.4, "state_abbr": "OR", "fips": 41},
        # sentinels + alias keys; preferred key sentinel -> fallback wins
        {"unitid": 102, "year": year, "inst_name": "-2", "instnm": "Beta College",
         "stabbr": "CA", "sector": -1, "hbcu": -2, "inst_size": -3, "region": "-1"},
        # malformed casts + whitespace + legit negative
        {"unitid": 103, "year": year, "fips": "abc", "latitude": "12.3.4",
         "county_fips": " 42 ", "region": -4, "inst_alias": "   ", "lon": "-71.1"},
    ]
    page2 = [
        # missing year -> backfilled from page row
        {"unitid": 104, "instnm": "Delta Institute", "control": "2", "iclevel": 1,
         "locale": 11, "zip5": "97201"},
        # decimal-in-int corner + unknown drift field
        {"unitid": 105, "year": year, "region": "12.5", "mystery_col": "?"},
    ]
    return [page1, page2]


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory):
    return str(tmp_path_factory.mktemp("warehouse"))


def test_full_load_and_semantics(spark, warehouse):
    metrics = pipeline.run_load(spark, "directory", 2020, _fixture_pages(2020), warehouse)
    assert metrics["records_mapped"] == 5
    assert metrics["rows_inserted"] == 5 and metrics["rows_updated"] == 0

    core = spark.read.parquet(f"{warehouse}/core/directory")
    rows = {r["unitid"]: r for r in core.collect()}
    assert set(rows) == {101, 102, 103, 104, 105}

    assert rows[101]["inst_name"] == "Alpha University"
    assert rows[101]["longitude"] == -122.4
    # alias fallback past sentinel preferred key
    assert rows[102]["inst_name"] == "Beta College"
    assert rows[102]["state_abbr"] == "CA"
    assert rows[102]["sector"] is None and rows[102]["hbcu"] is None
    assert rows[102]["region"] is None
    # malformed -> NULL; whitespace int -> parsed; legit negative survives
    assert rows[103]["fips"] is None and rows[103]["latitude"] is None
    assert rows[103]["county_fips"] == 42
    assert rows[103]["region"] == -4
    assert rows[103]["inst_alias"] is None
    assert rows[103]["longitude"] == -71.1
    # year backfill + alias keys
    assert rows[104]["year"] == 2020
    assert rows[104]["inst_name"] == "Delta Institute"
    assert rows[104]["inst_control"] == 2
    assert rows[104]["institution_level"] == 1
    assert rows[104]["urban_centric_locale"] == 11
    assert rows[104]["zip"] == "97201"
    # decimal-in-int -> NULL (Python int('12.5') parity)
    assert rows[105]["region"] is None


def test_rerun_is_idempotent(spark, warehouse):
    before_core = sorted(tuple(r) for r in spark.read.parquet(f"{warehouse}/core/directory").collect())
    before_hashes = {
        (r["year"], r["page_number"]): (r["source_hash"], r["ingested_at"])
        for r in spark.read.parquet(f"{warehouse}/raw/directory").collect()
    }
    metrics = pipeline.run_load(spark, "directory", 2020, _fixture_pages(2020), warehouse)
    assert metrics["rows_inserted"] == 0 and metrics["rows_updated"] == 5
    after_core = sorted(tuple(r) for r in spark.read.parquet(f"{warehouse}/core/directory").collect())
    assert before_core == after_core
    # hash-guarded raw upsert: unchanged pages keep original ingested_at
    after_hashes = {
        (r["year"], r["page_number"]): (r["source_hash"], r["ingested_at"])
        for r in spark.read.parquet(f"{warehouse}/raw/directory").collect()
    }
    assert before_hashes == after_hashes


def test_changed_page_rewrites_only_itself(spark, warehouse):
    pages = _fixture_pages(2020)
    pages[1][1]["region"] = 7  # change one record on page 2
    pipeline.run_load(spark, "directory", 2020, pages, warehouse)
    raw = {
        r["page_number"]: r
        for r in spark.read.parquet(f"{warehouse}/raw/directory").collect()
    }
    core = {r["unitid"]: r for r in spark.read.parquet(f"{warehouse}/core/directory").collect()}
    assert core[105]["region"] == 7
    assert raw[1]["ingested_at"] < raw[2]["ingested_at"]  # page 1 untouched


def test_second_year_partition_isolated(spark, warehouse):
    pipeline.run_load(spark, "directory", 2021, _fixture_pages(2021), warehouse)
    core = spark.read.parquet(f"{warehouse}/core/directory")
    assert core.filter(F.col("year") == 2021).count() == 5
    assert core.filter(F.col("year") == 2020).count() == 5
    # partition layout on disk
    import os

    assert os.path.isdir(f"{warehouse}/core/directory/year=2021")


def test_rebuild_gold(spark, warehouse):
    out = pipeline.rebuild_gold(spark, "directory", warehouse)
    latest = spark.read.parquet(f"{warehouse}/vw/directory_institutions_latest")
    # one row per institution, and it is the 2021 vintage (both years loaded)
    assert latest.count() == latest.select("unitid").distinct().count() == 5
    assert {r["year"] for r in latest.collect()} == {2021}
    counts = spark.read.parquet(f"{warehouse}/vw/directory_yearly_counts")
    assert "state_abbr" in counts.columns  # geography slice present for directory
    by_year = {r["year"]: r for r in counts.groupBy("year").agg(
        F.sum("n_rows").alias("n")).collect()}
    assert by_year[2020]["n"] == 5 and by_year[2021]["n"] == 5
    assert out["institutions_latest"] == 5


def test_drift_check(spark, warehouse):
    pages = raw_io.scan_pages(spark, f"{warehouse}/raw/directory", [2020])
    rep = pipeline.drift_check("directory", raw_io.scan_records(pages))
    assert "mystery_col" in rep["unknown_incoming"]


def test_empty_load_is_noop(spark, warehouse):
    """A year with zero fetched pages must not touch existing data and
    must log a 0/0 run (reference: empty API responses are normal for
    pre-coverage years)."""
    before = spark.read.parquet(f"{warehouse}/core/directory").count()
    metrics = pipeline.run_load(spark, "directory", 2019, [], warehouse)
    assert metrics["records_mapped"] == 0
    assert metrics["rows_inserted"] == 0 and metrics["rows_updated"] == 0
    assert spark.read.parquet(f"{warehouse}/core/directory").count() == before


def test_mapper_compiles_without_codegen_fallback(spark, tmp_path):
    """Every endpoint's mapper, and a full directory load, run with
    whole-stage codegen fallback off: a generated class that fails to
    compile (e.g. past the JVM's 64 KB method limit) raises here
    instead of silently running interpreted."""
    from ipeds_etl_spark import registry
    from ipeds_etl_spark.plans.core_pipeline import map_records

    conf = "spark.sql.codegen.fallback"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        pages = raw_io.pages_from_fetched(spark, 2020, _fixture_pages(2020))
        recs = raw_io.scan_records(pages)
        for endpoint in registry.list_endpoints():
            assert len(map_records(endpoint, recs).collect()) == 5, endpoint
        metrics = pipeline.run_load(
            spark, "directory", 2020, _fixture_pages(2020), str(tmp_path)
        )
        assert metrics["rows_inserted"] == 5
    finally:
        spark.conf.set(conf, before)


def test_load_counters_and_touched_years(spark, tmp_path):
    """One load whose pages hold a duplicate PK and a record of another
    year: records count rows (duplicates included), inserted/updated
    count distinct PKs, the record's own year partition is merged (not
    replaced), and an untouched year's files are left alone."""
    import os

    wh = str(tmp_path)
    part = f"{wh}/core/directory/year=2018"
    pipeline.run_load(spark, "directory", 2018, [[{"unitid": 9, "inst_name": "Nine"}]], wh)
    pipeline.run_load(
        spark, "directory", 2019,
        [[{"unitid": 2, "inst_name": "Two"}, {"unitid": 3, "inst_name": "Three"}]], wh,
    )
    untouched = {n: os.stat(f"{part}/{n}").st_mtime_ns for n in os.listdir(part)}
    pages = [
        [{"unitid": 1, "inst_name": "One"}, {"unitid": 2, "year": 2019, "inst_name": "Two b"}],
        [{"unitid": 1, "year": 2020, "inst_name": "One b"}],
    ]
    metrics = pipeline.run_load(spark, "directory", 2020, pages, wh)
    assert metrics["records_mapped"] == 3
    assert (metrics["rows_inserted"], metrics["rows_updated"]) == (1, 1)
    core = spark.read.parquet(f"{wh}/core/directory")
    got = {(r["unitid"], r["year"]): r["inst_name"] for r in core.collect()}
    assert got == {
        (9, 2018): "Nine", (2, 2019): "Two b", (3, 2019): "Three", (1, 2020): "One b",
    }
    assert {n: os.stat(f"{part}/{n}").st_mtime_ns for n in os.listdir(part)} == untouched
    last = spark.read.parquet(f"{wh}/meta/load_log").orderBy(F.col("load_id").desc()).first()
    assert (last["rows_inserted"], last["rows_updated"]) == (1, 1)


def test_http_ingest_offline_pagination():
    calls = []

    def fake_transport(url: str) -> str:
        calls.append(url)
        if "page=2" in url:
            return '{"results": [{"unitid": 2}], "next": null}'
        return '{"results": [{"unitid": 1}], "next": "?page=2"}'

    sleeps = []
    pages = fetch_endpoint_pages(
        "https://api.example/v1", "ipeds/directory/{year}/", 2020,
        transport=fake_transport, sleep=sleeps.append,
    )
    assert pages == [[{"unitid": 1}], [{"unitid": 2}]]
    assert len(calls) == 2 and "2020" in calls[0]
    assert sleeps == [0.25]  # 1/4 rps between pages


def test_http_retry_backoff():
    from ipeds_etl_spark.sources.http_ingest import get_with_retries

    attempts = []

    def flaky(url: str) -> str:
        attempts.append(url)
        if len(attempts) < 3:
            raise OSError("boom")
        return "ok"

    sleeps = []
    assert get_with_retries("u", transport=flaky, sleep=sleeps.append) == "ok"
    assert sleeps == [1.0, 2.0]  # exponential backoff

    with pytest.raises(OSError):
        get_with_retries("u", transport=lambda _: (_ for _ in ()).throw(OSError("x")), sleep=lambda s: None)
