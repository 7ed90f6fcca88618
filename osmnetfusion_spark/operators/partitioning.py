"""Scan-size probe and scale-adaptive scan fan-out (guide §2.5 "input skew").

A small parquet file arrives as ONE scan partition, so every per-row
kernel (Arrow UDFs, interpreted higher-order functions, explodes, the
candidate stage of a broadcast spatial join) upstream of the first shuffle
runs on one core no matter how many the session has. At production scale
the same scan has thousands of splits and needs no help. :func:`fan_out`
bridges the two regimes: repartition to the session's parallelism ONLY
when the scan is thinner than that -- a no-op on any input that is already
parallel, never a constant tuned to the local core count.

Only use this on paths whose results are partition-order independent:
integer/hash aggregates, min/max, per-row expressions, or exact
integer-valued double sums. Paths that aggregate genuine floating-point
terms (e.g. ``avg(ln ...)``) must keep their input partitioning so the
summation order -- and therefore the 6-dp-rounded contract value -- cannot
drift run to run.

Both helpers read only file metadata (``df.inputFiles`` + local file
sizes) -- NEVER ``df.rdd``: under AQE converting to an RDD FINALIZES the
adaptive plan, which materializes its shuffle query stages -- a silent
extra job that re-executes the whole subplan (measured: one hidden job per
spatial join, and the two-parallelism scaling evidence collapsed from 0.80
to 0.28 until it was removed).
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame

# a scan above this size already has enough file splits to run in parallel
SMALL_SCAN_BYTES = 128 << 20


def scan_bytes(df: DataFrame) -> int | float | None:
    """Source-file bytes feeding a DataFrame: ``None`` if it reads no file,
    ``float('inf')`` if any source file cannot be sized locally -- which
    includes every non-local URI such as s3a:// or hdfs://.

    Pre-filter source size, so it over-estimates: the safe direction for a
    broadcast guard.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        parsed = urlparse(f)
        # Only LOCAL files are sizable here. A remote URI (s3a/hdfs/...)
        # must read as unsizable by its scheme, not by hoping getsize
        # fails: its bare path could coincidentally exist on the driver
        # (shared mount, leftover warehouse) and a bogus local size
        # would re-enable the broadcast hint for a planet-scale table.
        if parsed.scheme not in ("", "file"):
            return float("inf")
        # file:///p and file:/p both occur in Hadoop path renderings;
        # urlparse handles either (netloc empty, path '/p').
        try:
            total += os.path.getsize(parsed.path if parsed.scheme == "file" else f)
        except OSError:
            # Unreadable size must read as "too big", not "no estimate":
            # None would silently re-enable the broadcast hint for a build
            # side we could not size (unsafe direction).
            return float("inf")
    return total


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition to ``spark.sql.shuffle.partitions`` when the plan reads
    a small file scan: hash-partitioned on ``keys`` when any are given (a
    downstream per-key aggregation then needs no second exchange),
    round-robin otherwise.

    Non-file sources (range/createDataFrame/post-shuffle) inherit the
    session's parallelism already, and scans big enough for the file
    splitter to parallelize pass through untouched, so this is a no-op at
    production scale. ``get_session`` sets the default parallelism to the
    same value, so one target serves both kinds of downstream stage.
    """
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    try:
        n_files = len(df.inputFiles())
    except Exception:  # pragma: no cover - non-analyzable plan
        return df
    if not n_files or n_files >= target or scan_bytes(df) > SMALL_SCAN_BYTES:
        return df
    return df.repartition(target, *keys)
