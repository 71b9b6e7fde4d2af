"""The weather DataSources' partitioning: one input partition whose
task runs the per-region loop over all 15 regions, with the same rows
as the fixture fallback.

The reader tests are pure Python, like
``test_weather_stream_reader_offsets_and_slices``; the counter guard
runs the e2e raw scan and counts its scan stage's tasks, so a return to
one Python task per region fails without any timing."""

from __future__ import annotations

import uuid
from collections import Counter

import pytest

from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.regions import (
    AGRICULTURAL_REGIONS,
)
from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.weather_api import (
    WeatherApiReader,
    WeatherStreamReader,
    fixture_payloads,
    read_raw,
    synthesize_raw_payload,
)


@pytest.mark.parametrize("days", [0, 1, 3])
def test_batch_reader_rows_equal_fixture_payloads(days):
    """Both read_raw paths (DataSource and fixture fallback) emit the
    same rows for any ``days``, including the one malformed document
    with ``days=0``."""
    r = WeatherApiReader({"days": str(days)})
    parts = r.partitions()
    assert len(parts) == 1
    rows = [row for p in parts for row in r.read(p)]
    assert Counter(rows) == Counter(fixture_payloads(days))


@pytest.mark.parametrize("edge_cases", ["false", "true"])
def test_stream_reader_rows_per_offset_range(edge_cases):
    r = WeatherStreamReader({"days": "3", "edge_cases": edge_cases})
    for start, end in ((0, 1), (1, 3), (0, 3), (2, 2)):
        parts = r.partitions({"day": start}, {"day": end})
        assert len(parts) == 1
        rows = [row for p in parts for row in r.read(p)]
        want = []
        for region in AGRICULTURAL_REGIONS:
            for day in range(start, end):
                want.append((region, synthesize_raw_payload(region, day)))
                if edge_cases == "true" and day == 0:
                    want.append((region, synthesize_raw_payload(region, day)))
        if edge_cases == "true" and start == 0 < end:
            want.append(("Nakuru", '{"this is": not valid json'))
        assert Counter(rows) == Counter(want)


def test_e2e_raw_scan_runs_one_task(spark):
    sc = spark.sparkContext
    group = f"weather_scan_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "weather_api raw scan")
    try:
        read_raw(spark, days=3).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [
        tracker.getStageInfo(s)
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert [s.numTasks for s in stages] == [1]
