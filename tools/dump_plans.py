"""Write ``.explain("formatted")`` dumps of the spatial joins' plans.

Usage (from the repository root)::

    PYTHONPATH=. python tools/dump_plans.py <out_dir> <tag> <sf_dir>

Writes ``<out_dir>/<name>_<tag>.txt`` for the contract queries
``q_knn_snap``, ``q_amenity_radius``, ``q_signal_snap``, ``q_pip_count``
and ``q_intersection_length`` over the contract tables in ``sf_dir`` (the
``r07`` dumps use sf0.1), and for ``snap_pages_to_edges`` and
``add_bicycle_parking`` on the scale-1 synthetic city. The ``sf_dir``
prefix of scanned file locations is written as ``<sf_dir>``.

A plan that reads an eagerly ``localCheckpoint()``-ed input (the
radius-ladder rungs) only shows a ``Scan ExistingRDD`` for it, so the plan
of every DataFrame checkpointed while the plan is built is appended below
the final plan, in build order. Only public entry points are called, so
the same script dumps any version of the engine that has them.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmnetfusion_spark import driver_contract as DC
from osmnetfusion_spark import synth
from osmnetfusion_spark.operators import spatial
from osmnetfusion_spark.plans import enrich, pages
from osmnetfusion_spark.session import get_session

QUERIES = ["q_knn_snap", "q_amenity_radius", "q_signal_snap", "q_pip_count", "q_intersection_length"]


def formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def dump(spark, out_dir: str, sf_dir: str, name: str, tag: str, build) -> None:
    rungs: list[str] = []
    cls = type(spark.range(1))  # the concrete DataFrame class of this session
    real = cls.localCheckpoint

    def recording(self, *a, **k):
        rungs.append(formatted(self))
        return real(self, *a, **k)

    cls.localCheckpoint = recording
    try:
        df = build()
    finally:
        cls.localCheckpoint = real
    text = formatted(df)
    for i, plan in enumerate(rungs, 1):
        text += f"\n\n== checkpointed input {i} of {len(rungs)} ==\n{plan}"
    text = text.replace(os.path.abspath(sf_dir), "<sf_dir>")
    with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
        f.write(text)


def main() -> None:
    out_dir, tag, sf_dir = sys.argv[1:4]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for q in QUERIES:
        dump(spark, out_dir, sf_dir, q, tag, lambda q=q: DC.QUERIES[q][0](spark, sf_dir))

    city = synth.city_to_spark(spark, synth.synthetic_city(1))
    edges = city["edges"].withColumn("edge_id", F.col("osmid"))
    segs = spatial.explode_segments(edges.select("edge_id", "geometry")).select(
        "edge_id", "seg_idx", "ax", "ay", "bx", "by"
    ).localCheckpoint()
    pg = pages.dedupe_latest(synth.pages(spark, 20_000)).localCheckpoint()
    dump(spark, out_dir, sf_dir, "snap_pages_to_edges", tag,
         lambda: pages.snap_pages_to_edges(pg, segs, 200.0))
    bike_edges = enrich.improve_bike_edges(edges).localCheckpoint()
    dump(spark, out_dir, sf_dir, "add_bicycle_parking", tag,
         lambda: enrich.add_bicycle_parking(bike_edges, city["bike_amenities"]))
    spark.stop()


if __name__ == "__main__":
    main()
