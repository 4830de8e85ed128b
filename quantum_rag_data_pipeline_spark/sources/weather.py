"""Weather sources (SURVEY.md §2.1 S11/S12) and the hourly wide table
(§3.2), Spark-first.

The reference builds the city×hour wide table by folding pairwise pandas
outer merges on ``time`` (weather.py:94-97) and then takes a row-wise
skipna mean (:111). Here the LONG format ``(city, time, temp_c)`` is the
source of truth and the wide table is ONE ``groupBy().pivot()`` — a single
shuffle instead of N-1 joins, and the horizontal mean is computed exactly.
"""

from __future__ import annotations

import hashlib
import math
import random
from collections.abc import Iterable
from datetime import date, datetime, timedelta

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.operators.aggregates import horizontal_skipna_mean
from quantum_rag_data_pipeline_spark.operators.projection import celsius_to_fahrenheit

# the reference's 8 fixed TX cities (meteostat_weather.py:23-32)
CITIES: dict[str, tuple[float, float]] = {
    "houston": (29.7604, -95.3698),
    "dallas": (32.7767, -96.7970),
    "austin": (30.2672, -97.7431),
    "san_antonio": (29.4241, -98.4936),
    "fort_worth": (32.7555, -97.3308),
    "corpus_christi": (27.8006, -97.3964),
    "abilene": (32.4487, -99.7331),
    "waco": (31.5493, -97.1467),
}

# the hourly wide-table DDL keeps 6 cities (create_weather_table.py:54-61)
HOURLY_CITIES = ("houston", "austin", "dallas", "san_antonio", "fort_worth", "corpus_christi")


def _det_temp(city: str, when: str) -> float | None:
    """Deterministic fake reading; ~4% missing to exercise skipna paths."""
    h = int.from_bytes(hashlib.sha256(f"{city}|{when}".encode()).digest()[:8], "big")
    rng = random.Random(h)
    if rng.random() < 0.04:
        return None
    return round(20 + 10 * math.sin(h % 360 / 57.3) + rng.random() * 3, 1)


def fake_daily_weather(spark: SparkSession, start: str, end: str) -> DataFrame:
    """S11 fake: per (city, date) daily tavg, schema
    (city STRING, date DATE, tavg DOUBLE) — NULL tavg = missing reading.
    Like the ERCOT envelopes, the fakes are JVM local relations built from
    an Arrow table (see ``sources.ercot.envelope_to_df``)."""
    d0 = date.fromisoformat(start)
    d1 = date.fromisoformat(end)
    cols: dict[str, list] = {"city": [], "date": [], "tavg": []}
    d = d0
    while d <= d1:
        for city in CITIES:
            cols["city"].append(city)
            cols["date"].append(d)
            cols["tavg"].append(_det_temp(city, d.isoformat()))
        d += timedelta(days=1)
    return spark.createDataFrame(pa.table(cols), "city string, date date, tavg double")


def fake_hourly_weather(spark: SparkSession, day: str, cities: Iterable[str] = HOURLY_CITIES) -> DataFrame:
    """S12 fake: per (city, hour) readings, schema
    (city STRING, time TIMESTAMP, temp_c DOUBLE); the naive hours are
    read in the session time zone (UTC, see ``session``)."""
    base = datetime.fromisoformat(f"{day}T00:00:00")
    cols: dict[str, list] = {"city": [], "time": [], "temp_c": []}
    for city in cities:
        for h in range(24):
            t = base + timedelta(hours=h)
            cols["city"].append(city)
            cols["time"].append(t)
            cols["temp_c"].append(_det_temp(city, t.isoformat()))
    return spark.createDataFrame(pa.table(cols), "city string, time timestamp, temp_c double")


def daily_avg_temperature(daily: DataFrame) -> DataFrame:
    """A4/A5: cross-city daily mean of each city's first valid reading,
    rounded to 2 (reference meteostat_weather.py:39-58). With one reading
    per (city, day) this is avg over non-null tavg; all-missing day →
    no row (reference returns None, :55-56)."""
    return (
        daily.filter(F.col("tavg").isNotNull() & ~F.isnan("tavg"))
        .groupBy("date")
        .agg(F.round(F.avg("tavg"), 2).alias("avg_temp_c"))
    )


def hourly_wide_table(hourly: DataFrame, cities: Iterable[str] = HOURLY_CITIES) -> DataFrame:
    """§3.2 end-to-end: long → pivot (J1) → skipna row mean (A3) → °F (P5)
    → sort (W2) → fixed column order/names per the reference DDL
    (create_weather_table.py:51-63)."""
    cities = list(cities)
    wide = (
        hourly.groupBy("time")
        .pivot("city", cities)
        .agg(F.first("temp_c"))
    )
    temp_cols = {c: f"{c}_temp_c" for c in cities}
    for src, dst in temp_cols.items():
        wide = wide.withColumnRenamed(src, dst)
    wide = wide.withColumn(
        "avg_temperature_c",
        F.round(horizontal_skipna_mean(list(temp_cols.values()), "m"), 10),
    )
    wide = wide.withColumn("avg_temperature_f", celsius_to_fahrenheit("avg_temperature_c"))
    ordered = ["time", *temp_cols.values(), "avg_temperature_c", "avg_temperature_f"]
    return wide.select(*ordered).orderBy("time").withColumnRenamed("time", "timestamp")
