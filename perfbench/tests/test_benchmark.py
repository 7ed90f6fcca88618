"""Tiny-scale smoke runs of each workload, traced and untraced, plus the
cases the output checks must reject."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from perfbench import checks, run, tracing, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_names_what_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["unit"] for m in bench["end_to_end"]] == list(run.END_TO_END.values())
    layer = run.per_layer_names(tracing.SPAN_NAMES, tracing.COUNTERS)
    assert [m["name"] for m in bench["per_layer"]] == list(layer)
    assert [m["unit"] for m in bench["per_layer"]] == list(layer.values())
    assert len(layer) <= 128
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)


@pytest.fixture(scope="module")
def pages_run(spark, golden_dir, tmp_path_factory):
    wl = workloads.Pages(spark, 7, str(tmp_path_factory.mktemp("pages")), golden_dir,
                         n_pages=5_000, city_scale=1)
    wl.setup()
    return wl, wl.run_pass(1)


def test_pages_smoke(pages_run):
    wl, res = pages_run
    assert wl.check(res) == []


def test_pages_traced_pass_matches_untraced(spark, pages_run):
    wl, res = pages_run
    tracer = tracing.Tracer(spark)
    tracer.install()
    try:
        traced = wl.run_pass(2, tracer)
    finally:
        tracer.uninstall()
    assert wl.check(traced) == []
    assert wl.digest(traced) == wl.digest(res)
    spans = [s for s in tracer.spans if s["pass"] == "pass-2"]
    root = spans[0]
    assert root["parent"] is None
    names = {s["name"] for s in spans if s["parent"] == root["id"]}
    assert {"pages.dedupe_latest", "pages.attach_license_asof",
            "pages.snap_pages_to_edges", "tiles.tile_edge_density"} <= names
    m = tracer.pass_metrics("pass-2")
    assert m["pages.snap_pages_to_edges.executor_run_s"] > 0
    assert 0 < m["trace.top_coverage"] <= 1


def test_pages_check_rejects_corrupted_output(spark, pages_run):
    wl, res = pages_run
    deduped, snapped, tiled = res["out"]
    one = F.col("url") == snapped.first()["url"]
    far = snapped.withColumn("dist_m", F.when(one, F.lit(250.0)).otherwise(F.col("dist_m")))
    assert any("dist_m" in e for e in wl.check({"out": (deduped, far, tiled)}))
    edited = deduped.withColumn("text", F.when(one, F.concat("text", F.lit(" "))).otherwise(F.col("text")))
    assert any("latest crawl" in e for e in wl.check({"out": (edited, snapped, tiled)}))
    assert wl.check({"out": (deduped, snapped.filter(~one), tiled)})
    assert wl.digest({"out": (edited, snapped, tiled)}) != wl.digest(res)


def test_golden_check_rejects_corrupted_output(golden_dir):
    nodes = pd.read_parquet(os.path.join(golden_dir, "simplified_nodes.parquet"))
    edges = pd.read_parquet(os.path.join(golden_dir, "simplified_edges.parquet"))
    assert checks.check_golden(nodes, edges, golden_dir) == []
    bad = edges.copy()
    num = bad.select_dtypes("number").columns[0]
    bad.loc[3, num] = bad.loc[3, num] + 1
    assert checks.check_golden(nodes, bad, golden_dir)
    assert checks.check_golden(nodes.iloc[1:], edges, golden_dir)


def test_durable_smoke(spark, golden_dir, tmp_path):
    wl = workloads.Durable(spark, 7, str(tmp_path), golden_dir)
    wl.setup()
    tracer = tracing.Tracer(spark)
    tracer.install()
    try:
        res = wl.run_pass(1, tracer)
    finally:
        tracer.uninstall()
    assert res["snapshot_mib"] > 0 and res["phase_s"] > 0
    assert wl.check(res) == []
    assert tracer.pass_metrics("pass-1")["checkpoint.Snapshotter.stage.self_s"] > 0
    nodes, edges = res["reference"]
    short = {**res, "reference": (nodes, edges.limit(edges.count() - 1))}
    assert any("phase-barrier" in e for e in wl.check(short))
