"""Batched grouped-map: applyInPandas semantics without per-group overhead.

``groupBy().applyInPandas`` pays an Arrow slice + Python call per group
(~10-15 ms); with thousands of small groups (parallel-edge merges, node
clusters) that dominates wall time -- and AQE's partition coalescing can
serialize it entirely on small shuffles. :func:`grouped_map_batched`
keeps the same contract (fold function sees exactly one complete group)
but ships whole partitions to Python: repartition by key, sort within
partitions so groups are contiguous, then ``mapInPandas`` with a carry
buffer for the group that straddles a batch boundary.

This module is the only owner of that contiguous-group protocol. A fold
that wants a whole run of groups at once (step 11 slices its groups out
of one column-dict per batch) hands a body fold to :func:`_map_group_bodies`.

Cost: one Python round trip per partition + a pandas groupby per batch.
Scales the same way the reference's own mp.Pool partitioning did
(p3_functions.py:913-922), but with Spark shuffle semantics.
"""

from __future__ import annotations

import warnings
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def grouped_map_batched(
    df: DataFrame,
    keys: list[str],
    fold: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """Apply ``fold`` to each complete group of ``keys``, batched."""

    def fold_body(body: pd.DataFrame) -> list[pd.DataFrame]:
        outs = [fold(g.reset_index(drop=True)) for _, g in body.groupby(keys, sort=False)]
        return [o for o in outs if o is not None and len(o)]

    return _map_group_bodies(df, keys, fold_body, schema)


def _map_group_bodies(
    df: DataFrame,
    keys: list[str],
    fold_body: Callable[[pd.DataFrame], list[pd.DataFrame]],
    schema: str,
) -> DataFrame:
    """Repartition by ``keys``, sort within partitions, and run
    :func:`_run_group_bodies` over each partition's Arrow batches."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    rp = df.repartition(n, *keys).sortWithinPartitions(*keys)
    return rp.mapInPandas(lambda it: _run_group_bodies(it, keys, fold_body), schema=schema)


def _run_group_bodies(
    it: Iterator[pd.DataFrame],
    keys: list[str],
    fold_body: Callable[[pd.DataFrame], list[pd.DataFrame]],
) -> Iterator[pd.DataFrame]:
    """The carry protocol over key-sorted batches. Each batch's rows
    before its final (possibly incomplete) group form a body of whole
    groups; that final group carries into the next batch, and the last
    carry is folded on its own. ``fold_body`` returns the non-empty
    frames of one body, which leave as ONE frame per body -- pandas
    concat dtype inference depends on that chunking, and the Arrow
    boundary sees the chunks as produced."""

    def emit(body: pd.DataFrame) -> Iterator[pd.DataFrame]:
        frames = fold_body(body)
        if len(frames) == 1:
            yield frames[0]
        elif frames:
            with warnings.catch_warnings():
                # pandas FutureWarning about all-NA column dtype inference
                # during concat; Arrow casts the result to the declared
                # schema anyway
                warnings.simplefilter("ignore", FutureWarning)
                yield pd.concat(frames, ignore_index=True)

    carry: pd.DataFrame | None = None
    for pdf in it:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        if not len(pdf):
            continue
        tail = np.ones(len(pdf), dtype=bool)
        for k in keys:
            tail &= pdf[k].eq(pdf[k].iat[-1]).to_numpy()
        first_tail = int(tail.argmax()) if tail.any() else len(pdf)
        carry = pdf.iloc[first_tail:]
        body = pdf.iloc[:first_tail]
        if len(body):
            yield from emit(body)
    if carry is not None and len(carry):
        yield from emit(carry.reset_index(drop=True))
