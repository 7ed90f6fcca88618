"""Seeded benchmark inputs.

The engine receives only the DataFrames built here. The city comes from
``synth.synthetic_city`` under the benchmark seed (``synth._rng`` reads the
module-level ``synth.SEED`` at call time, so seed 42 reproduces the golden
fixtures' city). The page crawl is a seeded twin of ``synth.pages``, whose
hash salts are fixed: here every salt is derived from the seed, and a
recrawl carries a different text than the crawl it replaces, so the
latest-crawl-wins rule is visible in the output text.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmnetfusion_spark import synth

_MOD = 2_147_483_647
#: one url in RECRAWL_PERIOD is crawled twice (~6%, as in synth.pages)
RECRAWL_PERIOD = 17
#: share of pages placed in one hot res-10 cell (urban-core skew)
HOT_SHARE = 0.20


def city(seed: int, scale: int) -> dict[str, pd.DataFrame]:
    """The synthetic city at ``scale`` generated under ``seed``."""
    prev = synth.SEED
    synth.SEED = int(seed)
    try:
        return synth.synthetic_city(scale)
    finally:
        synth.SEED = prev


def city_tables(spark: SparkSession, frames: dict[str, pd.DataFrame]) -> dict[str, DataFrame]:
    """Materialized Spark tables for a generated city."""
    tables = {k: v.localCheckpoint() for k, v in synth.city_to_spark(spark, frames).items()}
    for v in tables.values():
        v.count()
    return tables


def _unit(col, salt: int):
    """Deterministic uniform [0, 1) from an integer column."""
    x = F.abs(F.xxhash64(col, F.lit(salt))) % F.lit(_MOD)
    return x.cast("double") / F.lit(float(_MOD))


def _is_recrawl(pid, seed: int):
    return (pid > 0) & (F.pmod(pid + F.lit(seed % RECRAWL_PERIOD), F.lit(RECRAWL_PERIOD)) == 1)


def _url(base):
    return F.concat(
        F.lit("https://example.test/"), (base % 97).cast("string"),
        F.lit("/page-"), base.cast("string"),
    )


def _text(base, version, seed: int):
    return F.concat(
        F.lit("Seite "), base.cast("string"),
        F.lit(" | Fassung "), version.cast("string"),
        F.lit(" | Block "), (base % 97).cast("string"),
        F.lit(" | "), F.lower(F.hex(F.xxhash64(base, F.lit(seed)))),
        F.lit(" äöü ✓."),  # non-ASCII: byte identity must survive
    )


def pages(spark: SparkSession, n: int, seed: int, city_scale: int) -> DataFrame:
    """Raw crawl ``(url, warc_ts, html, text, lang, lat, lon)`` of ``n`` rows.

    Row ``i`` with ``(i + seed) % 17 == 1`` recrawls the url of row
    ``i - 1`` one day later with a second text version. ``HOT_SHARE`` of
    the pages fall in a ~100 m box at the dense cluster; the rest spread
    over the city window of ``city_scale``.
    """
    span = (8 * max(int(city_scale), 1) - 1) * synth.GRID_STEP
    size10 = 1.0 / (1 << 10)
    hot_lon = (np.floor((synth.LON0 + 2 * synth.GRID_STEP + 180.0) / size10) + 0.5) * size10 - 180.0
    hot_lat = (np.floor((synth.LAT0 + 2 * synth.GRID_STEP + 90.0) / size10) + 0.5) * size10 - 90.0
    salt = int(seed) * 8
    pid = F.col("id")
    u_lat, u_lon, u_lang, u_hot = (_unit(pid, salt + s) for s in (1, 2, 3, 4))
    recrawl = _is_recrawl(pid, seed)
    base = F.when(recrawl, pid - 1).otherwise(pid)
    text = _text(base, F.when(recrawl, 2).otherwise(1), seed)
    warc_ts = F.to_timestamp(F.lit("2025-01-01 00:00:00")) + F.make_interval(
        secs=(base % 86_400).cast("double") + F.when(recrawl, F.lit(90_000.0)).otherwise(F.lit(0.0))
    )
    hot = u_hot < HOT_SHARE
    df = spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
    return df.select(
        _url(base).alias("url"),
        warc_ts.alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body><p>"), text, F.lit("</p></body></html>")), "UTF-8").alias("html"),
        text.alias("text"),
        F.when(u_lang < 0.55, "de").when(u_lang < 0.85, "en").when(u_lang < 0.93, "fr")
        .otherwise("it").alias("lang"),
        F.when(hot, F.lit(float(hot_lat)) + (u_lat - 0.5) * 0.0006)
        .otherwise(F.lit(synth.LAT0) + u_lat * span).alias("lat"),
        F.when(hot, F.lit(float(hot_lon)) + (u_lon - 0.5) * 0.0006)
        .otherwise(F.lit(synth.LON0) + u_lon * span).alias("lon"),
    )


def latest_text_sha256(spark: SparkSession, n: int, seed: int) -> DataFrame:
    """``(url, text_sha256)`` of each url's latest crawl in ``pages(n, seed)``,
    derived from the generator's rule rather than from the crawl rows."""
    b = F.col("id")
    recrawled = (b + 1 < n) & _is_recrawl(b + 1, seed)
    df = spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
    return df.filter(~_is_recrawl(b, seed)).select(
        _url(b).alias("url"),
        F.sha2(F.encode(_text(b, F.when(recrawled, 2).otherwise(1), seed), "UTF-8"), 256)
        .alias("text_sha256"),
    )


def distinct_urls(n: int, seed: int) -> int:
    """Number of distinct urls in ``pages(n, seed)``."""
    ids = np.arange(1, n)
    return n - int(((ids + seed % RECRAWL_PERIOD) % RECRAWL_PERIOD == 1).sum())
