"""Output checks run on every timed pass.

Each check returns a list of problems; an empty list means the pass's
output is correct. A pass with problems counts as failed.
"""

from __future__ import annotations

import functools
import hashlib
import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def digest(*dfs: DataFrame) -> str:
    """sha256 of the given tables' rows in canonical (sorted) order.

    Each row is serialized as JSON and hashed; the row hashes are sorted
    and hashed per (table, leading byte) bucket, and the bucket hashes are
    hashed in order on the driver. Row order, partitioning and plan shape
    do not change the digest; any changed, missing or extra row does.
    """
    rows = functools.reduce(DataFrame.unionByName, [
        df.select(
            F.lit(i).alias("t"),
            F.sha2(F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns])), 256).alias("h"),
        )
        for i, df in enumerate(dfs)
    ])
    buckets = (
        rows.groupBy("t", F.substring("h", 1, 2).alias("b"))
        .agg(F.sha2(F.concat_ws("", F.array_sort(F.collect_list("h"))), 256).alias("d"))
        .collect()
    )
    out = hashlib.sha256()
    for t, b, d in sorted((r["t"], r["b"], r["d"]) for r in buckets):
        out.update(f"{t}:{b}:{d}\n".encode())
    return out.hexdigest()


def check_pages(
    deduped: DataFrame,
    snapped: DataFrame,
    tiled: DataFrame,
    expected_text: DataFrame,
    n_urls: int,
    radius_m: float,
) -> list[str]:
    """The geocoded crawl against the generator's ground truth.

    - every url appears once after dedupe, with the sha256 of the text of
      its latest crawl (the byte-identity invariant)
    - every page snaps to an edge within ``radius_m`` (the city grid puts
      every point within ~70 m of a street)
    - the per-(tile, edge) page counts add up to the snapped pages
    """
    errors = []
    got = deduped.select("url", F.sha2(F.encode("text", "UTF-8"), 256).alias("got"))
    bad = (
        got.join(expected_text, "url", "full_outer")
        .filter(F.col("got").isNull() | F.col("text_sha256").isNull() | (F.col("got") != F.col("text_sha256")))
        .count()
    )
    if bad:
        errors.append(f"pages: {bad} urls whose text differs from their latest crawl")
    n_dedup = deduped.count()
    if n_dedup != n_urls:
        errors.append(f"pages: {n_dedup} deduped rows, expected {n_urls} urls")
    s = snapped.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("url").alias("urls"),
        F.max("dist_m").alias("max_d"),
        F.sum(F.col("dist_m").isNull().cast("int")).alias("null_d"),
    ).first()
    if s["n"] != n_urls or s["urls"] != n_urls:
        errors.append(f"snap: {s['n']} rows over {s['urls']} urls, expected {n_urls}")
    if s["null_d"] or (s["max_d"] is not None and s["max_d"] > radius_m):
        errors.append(f"snap: max dist_m {s['max_d']} (nulls {s['null_d']}) exceeds {radius_m} m")
    placed = tiled.agg(F.sum("page_count")).first()[0]
    if placed != s["n"]:
        errors.append(f"tiles: page counts sum to {placed}, expected {s['n']}")
    return errors


def canonical_frames(nodes: DataFrame, edges: DataFrame):
    """The simplified network in the golden fixtures' canonical form."""
    from tools.make_golden import canonicalize

    return (
        canonicalize(nodes.toPandas(), key=["g_id"]),
        canonicalize(edges.drop("g_geo_rea", "g_geo_lin").toPandas(), key=["g_id"]),
    )


def check_golden(nodes_pdf: pd.DataFrame, edges_pdf: pd.DataFrame, golden_dir: str) -> list[str]:
    """Scale-1 network against the committed full fixtures, compared as the
    repository's golden tests compare them."""
    from tests.test_golden import _assert_frame_equal

    errors = []
    for pdf, name in ((nodes_pdf, "nodes"), (edges_pdf, "edges")):
        try:
            golden = pd.read_parquet(os.path.join(golden_dir, f"simplified_{name}.parquet"))
            _assert_frame_equal(pdf, golden, name)
        except AssertionError as e:
            errors.append(str(e))
    return errors
