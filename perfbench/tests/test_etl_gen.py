"""The generator's ground truth against the real daily cycle."""

from collections import Counter

import pytest

import etl_gen
from workloads import ETL_PER_DAY


def test_same_seed_same_pages_other_seed_other_pages():
    a, b = etl_gen.generate(3, 60, 3), etl_gen.generate(3, 60, 3)
    assert a.pages == b.pages
    assert etl_gen.generate(4, 60, 3).pages != a.pages


def test_benchmark_crawl_exercises_every_case():
    crawl = etl_gen.generate(1, ETL_PER_DAY, 1)
    listed = {p.job_id: p for p in crawl.listed[0]}
    assert crawl.raw_rows[0] > len(crawl.listed[0]), "repeats within a crawl"
    assert any(len(p.location[1]) > 1 for p in listed.values()), "multi-city"
    salaries = {p.salary for p in listed.values()}
    assert set(etl_gen.SALARIES) | {etl_gen.INVALID_SALARY} <= salaries
    invalid = Counter()
    for p in listed.values():
        invalid["no_company"] += p.company.name is None
        invalid["short_title"] += len(p.title) < 5
        invalid["empty_location"] += p.location == etl_gen.EMPTY_LOCATION
        invalid["far_deadline"] += p.due_day is not None and p.due_day - p.first_day > 180
        invalid["no_deadline"] += p.due_day is None
    assert all(invalid.values()), invalid
    # a few, so the hard-fail thresholds are not reached
    assert invalid["no_company"] < 0.05 * len(listed)


def test_ground_truth_matches_a_tiny_run_day(spark, tmp_path):
    from jobinsight_data_pipeline_v2_spark.pipelines import run_day
    from jobinsight_data_pipeline_v2_spark.quality.monitoring import MetricsStore
    from jobinsight_data_pipeline_v2_spark.sources.html_source import (
        blobs_to_raw_jobs,
        read_html_blobs,
        write_html_blobs,
    )
    from jobinsight_data_pipeline_v2_spark.storage import WarehouseStorage

    days = 3
    crawl = etl_gen.generate(5, 60, days)
    truth = etl_gen.ground_truth(crawl)
    capture = str(tmp_path / "capture")
    storage = WarehouseStorage(spark, str(tmp_path / "wh"))
    store = MetricsStore(spark, str(tmp_path / "wh"))
    for day in range(days):
        as_of, crawled = etl_gen.Crawl.as_of(day), etl_gen.Crawl.crawled_at(day)
        pages = spark.createDataFrame(crawl.pages[day], "page_url string, html string")
        write_html_blobs(pages, capture, as_of)
        raw = blobs_to_raw_jobs(read_html_blobs(spark, capture, as_of), crawled)
        assert raw.count() == crawl.raw_rows[day]
        w, report = run_day(spark, storage, raw, as_of, crawled, metrics=store)
        got = {
            "staging_rows": report.staging_rows,
            "fact_rows_today": report.fact_rows_today,
            "dim_job_rows": w.dim_job.count(),
            "dim_company_rows": w.dim_company.count(),
            "bridge_rows": w.bridge.count(),
            "vw_jobs_today": spark.table("vw_jobs_today").count(),
            "vw_jobs_hanoi": spark.table("vw_jobs_hanoi").count(),
            "vw_jobs_hcm": spark.table("vw_jobs_hcm").count(),
        }
        assert got == truth[day], f"day {day}"
        assert (report.crawl_gate.status, report.staging_gate.status) == ("success", "success")
    # the tiny crawl reaches the SCD2 and carry-forward paths too
    assert truth[days - 1]["dim_job_rows"] > len({p.job_id for p in crawl.postings if p.first_day < days})
    assert truth[days - 1]["fact_rows_today"] > truth[days - 1]["staging_rows"]


@pytest.mark.parametrize("seed", [1, 2])
def test_ground_truth_is_deterministic(seed):
    assert etl_gen.ground_truth(etl_gen.generate(seed, 60, 3)) == etl_gen.ground_truth(
        etl_gen.generate(seed, 60, 3)
    )
