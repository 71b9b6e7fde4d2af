"""Simulated OpenWeatherMap source (SURVEY.md §2 S1/S2/E1).

The reference fetches one JSON document per region in a sequential
driver loop (/root/reference/daily_weather_etl_kenya.py:143-154,
30 s timeout each, try/except per region with quarantine-and-continue
:193-207). Spark-first re-expression:

- A **Spark 4 Python Data Source** (``WeatherApiDataSource``) with ONE
  input partition whose task runs the reference's per-region loop over
  all 15 regions. The fetch runs executor-side instead of on the
  driver, and a scan pays the fixed per-Python-task start-up (~0.2 s
  here, whatever the task reads) once, not once per region. Here
  ``read`` emits deterministic synthetic fixtures instead of calling
  the live API (out of scope), but the executor-side read path is the
  real shape.
- The JSON decode + nested flatten (:157-188) is `from_json` with the
  explicit RAW_WEATHER_SCHEMA + one `select` — Catalyst prunes unused
  nested fields.
- Failure isolation (E1): PERMISSIVE parse with a `_corrupt_record`
  quarantine filter, and a fail-only-if-all-failed guard
  (:203-207 semantics).
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..schemas import RAW_WEATHER_SCHEMA
from .regions import AGRICULTURAL_REGIONS

_EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z


def synthesize_raw_payload(region: str, day: int, seed_salt: int = 0) -> str:
    """One deterministic fake OpenWeatherMap JSON document (no RNG).

    Mirrors the response shape consumed at
    /root/reference/daily_weather_etl_kenya.py:157-188, including the
    edge cases FIXTURES.md §1.1 requires: some documents miss ``rain``,
    ``visibility`` or ``wind.deg``; some carry out-of-range temperature
    or humidity (must be filtered); duplicates/malformed docs are added
    by the fixture builder, not here.
    """
    # deterministic mix (builtin hash() is salted per-process)
    m = 0
    for ch in region:
        m = (m * 131 + ord(ch)) % 1_000_003
    m = (m + day * 7919 + seed_salt * 104729) % 1_000_003

    temp = round(12.0 + (m % 300) / 10.0, 2)  # 12.0 .. 41.9
    if m % 37 == 0:
        temp = 55.0 + (m % 10)  # out-of-range high (filtered by F1)
    humidity = int(m % 101)
    if m % 41 == 0:
        humidity = 120  # out-of-range (filtered by F2)
    dt = _EPOCH_2024 + day * 86400 + (m % 86400)
    doc = {
        "region": region,
        "dt": dt,
        "main": {
            "temp": temp,
            "feels_like": round(temp + 1.5, 2),
            "temp_min": round(temp - 2.0, 2),
            "temp_max": round(temp + 2.0, 2),
            "pressure": 1000 + (m % 30),
            "humidity": humidity,
        },
        "wind": {"speed": round((m % 120) / 10.0, 1)},
        "clouds": {"all": m % 101},
        "weather": [
            {
                "main": ["Clear", "Clouds", "Rain"][m % 3],
                "description": ["clear sky", "scattered clouds", "light rain"][m % 3],
            }
        ],
        "sys": {"sunrise": dt - (dt % 86400) + 6 * 3600, "sunset": dt - (dt % 86400) + 18 * 3600},
    }
    if m % 5 != 0:
        doc["visibility"] = 4000 + (m % 6000)
    if m % 7 != 0:
        doc["wind"]["deg"] = m % 360
    if m % 3 == 0:
        doc["rain"] = {"1h": round((m % 600) / 10.0, 1), "3h": round((m % 1500) / 10.0, 1)}
    return json.dumps(doc)


_MALFORMED = ("Nakuru", '{"this is": not valid json')


def _region_docs(region: str, day_from: int, day_to: int, duplicates: bool):
    """One region's documents for days [day_from, day_to), one per day;
    with ``duplicates`` day 0 is emitted twice (exercises R1 dedup)."""
    for day in range(day_from, day_to):
        payload = synthesize_raw_payload(region, day)
        yield (region, payload)
        if duplicates and day == 0:
            yield (region, payload)  # duplicate (region, dt)


def fixture_payloads(
    days: int = 3,
    with_duplicates: bool = True,
    with_malformed: bool = True,
) -> list[tuple[str, str]]:
    """(region, raw_json) rows across all 15 regions × days, plus the
    edge rows FIXTURES.md §1.1 mandates."""
    rows = [
        doc
        for region in AGRICULTURAL_REGIONS
        for doc in _region_docs(region, 0, days, with_duplicates)
    ]
    if with_malformed:
        rows.append(_MALFORMED)
    return rows


try:  # Spark 4 Python Data Source API (pyspark.sql.datasource)
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class WeatherApiReader(DataSourceReader):
        def __init__(self, options):
            self.days = int(options.get("days", 3))
            self.edge_cases = options.get("edge_cases", "true") == "true"

        def partitions(self):
            # one partition: each Python task costs a fixed worker
            # start-up, which dwarfs reading 15 small documents
            return [InputPartition(0)]

        def read(self, partition):
            # the reference's sequential per-region loop (:143): the SAME
            # rows as fixture_payloads(), so both read_raw paths agree —
            # day-0 duplicate per region (R1 dedup) and one malformed
            # document per scan (E1 quarantine), deterministic, no RNG
            yield from fixture_payloads(self.days, self.edge_cases, self.edge_cases)

    class WeatherApiDataSource(DataSource):
        """`spark.read.format("weather_api")` — the 15-region feed as one
        executor-side scan.

        A live implementation would issue the HTTP GETs inside ``read``
        (executor-side, with per-region failure isolation); here it
        emits the deterministic fixture payloads.
        """

        @classmethod
        def name(cls):
            return "weather_api"

        def schema(self):
            return "region string, raw string"

        def reader(self, schema):
            return WeatherApiReader(self.options)

    from pyspark.sql.datasource import DataSourceStreamReader

    class WeatherStreamReader(DataSourceStreamReader):
        """Micro-batch stream of the same simulated per-region feed:
        one DAY of payloads per micro-batch, read like the batch scan
        by one input partition over all regions. Offsets are day
        counters, so recovery/replay (partitions(start, end)) is exact
        and deterministic; ``read`` runs executor-side like the batch
        path (NOT the driver-side SimpleDataSourceStreamReader variant —
        a live feed would poll the API from an executor, not the
        driver)."""

        def __init__(self, options):
            self.max_days = int(options.get("days", 3))
            # edge_cases=true replays the batch fixture's day-0 edge
            # rows (duplicate doc per region + one malformed document)
            # so streaming R1 dedup / E1 quarantine are exercised; off
            # by default to keep the plain-feed consumers exact
            self.edge_cases = options.get("edge_cases", "false") == "true"

        def initialOffset(self) -> dict:
            return {"day": 0}

        def latestOffset(self) -> dict:
            # one day of data becomes available per micro-batch until
            # the backlog is exhausted; then the offset stops advancing
            if not hasattr(self, "_cur"):
                self._cur = 0
            self._cur = min(self._cur + 1, self.max_days)
            return {"day": self._cur}

        def partitions(self, start: dict, end: dict):
            return [InputPartition((start["day"], end["day"]))]

        def read(self, partition):
            day_from, day_to = partition.value
            for region in AGRICULTURAL_REGIONS:
                yield from _region_docs(region, day_from, day_to, self.edge_cases)
            # the malformed document belongs to day 0's batch (E1 quarantine)
            if self.edge_cases and day_from <= 0 < day_to:
                yield _MALFORMED

        def commit(self, end: dict) -> None:
            pass

    class WeatherStreamDataSource(DataSource):
        """`spark.readStream.format("weather_stream")` — day-per-batch
        streaming source over all 15 regions."""

        @classmethod
        def name(cls):
            return "weather_stream"

        def schema(self):
            return "region string, raw string"

        def streamReader(self, schema):
            return WeatherStreamReader(self.options)

    HAS_DATASOURCE_API = True
except Exception:  # pragma: no cover - older pyspark
    WeatherApiDataSource = None  # type: ignore[assignment]
    WeatherStreamDataSource = None  # type: ignore[assignment]
    HAS_DATASOURCE_API = False


def register_weather_source(spark: SparkSession) -> bool:
    if HAS_DATASOURCE_API and WeatherApiDataSource is not None:
        spark.dataSource.register(WeatherApiDataSource)
        return True
    return False


def register_weather_stream(spark: SparkSession) -> bool:
    if HAS_DATASOURCE_API and WeatherStreamDataSource is not None:
        spark.dataSource.register(WeatherStreamDataSource)
        return True
    return False


def read_raw(spark: SparkSession, days: int = 3, use_datasource: bool = True) -> DataFrame:
    """Raw (region, raw json string) frame — datasource path or fixture fallback."""
    if use_datasource and register_weather_source(spark):
        return spark.read.format("weather_api").option("days", days).load()
    schema = StructType(
        [StructField("region", StringType(), False), StructField("raw", StringType())]
    )
    return spark.createDataFrame(fixture_payloads(days), schema)


def parse_raw(raw_df: DataFrame) -> DataFrame:
    """PERMISSIVE nested-JSON parse + quarantine split (E1).

    Returns the parsed frame with a ``_corrupt`` flag; callers filter.
    Malformed documents produce a null struct instead of failing the
    job — the reference's per-region try/except quarantine (:193-201).
    """
    parsed = raw_df.withColumn(
        "doc", F.from_json(F.col("raw"), RAW_WEATHER_SCHEMA)
    ).withColumn("_corrupt", F.col("doc").isNull() | F.col("doc.dt").isNull())
    return parsed


def flatten(parsed: DataFrame, extraction_ts: datetime | None = None) -> DataFrame:
    """Nested → flat 20-column projection
    (/root/reference/daily_weather_etl_kenya.py:160-190), all native exprs.

    ``extraction_ts`` pins the reference's ``datetime.now()`` (:179) for
    deterministic tests (SURVEY.md §5d).
    """
    ts = extraction_ts or datetime(2024, 1, 15, 6, 0, 0, tzinfo=timezone.utc).replace(tzinfo=None)
    good = parsed.filter(~F.col("_corrupt"))
    d = F.col("doc")

    def epoch_ntz(col):
        # pure epoch arithmetic on an NTZ base: no session-timezone
        # dependence (unlike timestamp_seconds, which yields LTZ)
        return F.timestamp_add(
            "SECOND", col.cast("long"), F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
        )

    return good.select(
        F.col("region"),
        d["main"]["temp"].alias("temperature"),
        d["main"]["feels_like"].alias("feels_like"),
        d["main"]["temp_min"].alias("temp_min"),
        d["main"]["temp_max"].alias("temp_max"),
        d["main"]["pressure"].alias("pressure"),
        d["main"]["humidity"].alias("humidity"),
        d["visibility"].alias("visibility"),
        d["wind"]["speed"].alias("wind_speed"),
        d["wind"]["deg"].alias("wind_direction"),
        d["clouds"]["all"].alias("cloudiness"),
        F.element_at(d["weather"], 1)["main"].alias("weather_main"),
        F.element_at(d["weather"], 1)["description"].alias("weather_description"),
        F.coalesce(d["rain"]["1h"], F.lit(0.0)).alias("rainfall_1h"),
        F.coalesce(d["rain"]["3h"], F.lit(0.0)).alias("rainfall_3h"),
        epoch_ntz(d["sys"]["sunrise"]).alias("sunrise"),
        epoch_ntz(d["sys"]["sunset"]).alias("sunset"),
        epoch_ntz(d["dt"]).alias("data_timestamp"),
        F.lit(ts).cast("timestamp_ntz").alias("extraction_timestamp"),
    )
