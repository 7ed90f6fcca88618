"""The benchmark's workloads.

A workload generates its inputs from the seed in ``setup``, runs one timed
pass through the engine's public entry points in ``run_pass`` and checks
that pass's output in ``check``. ``run_pass`` returns the pass's timings
and the outputs ``check`` needs. Given a ``tracing.Tracer``, it runs the
pass inside the tracer's root span ``pass-<k>``.
"""

from __future__ import annotations

import contextlib
import os
import shutil

from osmnetfusion_spark import checkpoint, synth
from osmnetfusion_spark.operators import spatial
from osmnetfusion_spark.plans import pages as PG
from osmnetfusion_spark.plans import pipeline, tiles
from pyspark.sql import functions as F

from . import checks, inputs, procs

GOLDEN_SEED = 42


def _section(tracer, name: str, k: int):
    return tracer.root(f"{name}.pass", f"pass-{k}") if tracer else contextlib.nullcontext()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Durable:
    """A city through ``pipeline.run_full`` with a ``checkpoint.Snapshotter``
    in a fresh warehouse, then a run that resumes from it. Traced runs add a
    non-durable run with phase barriers. The outputs must be equal;
    ``wall_s`` times the fresh durable run only."""

    name = "durable"
    min_passes = 1
    #: the scale-1 city: 291 input edges, the size of the golden fixtures
    scale = 1

    def __init__(self, spark, seed: int, workdir: str, golden_dir: str):
        self.spark, self.seed, self.workdir, self.golden_dir = spark, seed, workdir, golden_dir
        self.config = {"bench": self.name, "seed": seed, "scale": self.scale,
                       "code": checkpoint.code_fingerprint()}

    def setup(self) -> None:
        self.tables = inputs.city_tables(self.spark, inputs.city(self.seed, self.scale))
        self.input_rows = self.tables["edges"].count()

    def warm_up(self) -> None:
        """Start the Python workers; a warm-up pipeline pass would double
        the run, so the timed pass is the process's first."""
        df = self.spark.range(0, 1 << 16, 1, self.spark.sparkContext.defaultParallelism)
        df.mapInPandas(lambda it: it, "id long").groupBy((F.col("id") % 97).alias("k")).count().count()

    def _run(self, warehouse: str | None):
        """``run_full`` with a Snapshotter in ``warehouse``; without one, a
        non-durable run with phase barriers and the lazy stager."""
        if warehouse is None:
            nodes, edges = pipeline.run_full(self.spark, self.tables, barriers="phase")
        else:
            snap = checkpoint.Snapshotter(self.spark, warehouse, run_id=self.name, config=self.config)
            nodes, edges = pipeline.run_full(self.spark, self.tables, snap=snap)
        nodes.count()
        edges.count()
        return nodes, edges

    def run_pass(self, k: int, tracer=None) -> dict:
        warehouse = os.path.join(self.workdir, f"warehouse-{k}")
        shutil.rmtree(warehouse, ignore_errors=True)
        with _section(tracer, self.name, k), procs.Clock() as clock:
            nodes, edges = self._run(warehouse)
        snapshot_mib = _dir_bytes(warehouse) / (1024.0 * 1024.0)
        with procs.Clock() as resume:
            resumed = self._run(warehouse)
        res = {
            "wall_s": clock.wall_s, "cpu_s": clock.cpu_s,
            "resume_s": resume.wall_s, "snapshot_mib": snapshot_mib,
            "out": (nodes, edges), "resumed": resumed,
        }
        if tracer and k == 1:
            # outside the root span the tracer's wrappers call straight through
            with procs.Clock() as phase:
                res["reference"] = self._run(None)
            res["phase_s"] = phase.wall_s
        return res

    def digest(self, res: dict) -> str:
        return checks.digest(*res["out"])

    def check(self, res: dict) -> list[str]:
        errors = []
        fresh = self.digest(res)
        if checks.digest(*res["resumed"]) != fresh:
            errors.append("durable: resumed output differs from the fresh output")
        if "reference" in res and checks.digest(*res["reference"]) != fresh:
            errors.append("durable: output differs from the non-durable phase-barrier run")
        if self.seed == GOLDEN_SEED:
            errors += checks.check_golden(*checks.canonical_frames(*res["out"]), self.golden_dir)
        return errors


class Pages:
    """A raw crawl through dedupe, license as-of, kNN snap and tile density,
    against segments exploded from a generated city's edges."""

    name = "pages"
    min_passes = 2
    radius_m = 200.0

    def __init__(self, spark, seed: int, workdir: str, golden_dir: str,
                 n_pages: int = 100_000, city_scale: int = 3):
        self.spark, self.seed = spark, seed
        self.n_pages, self.city_scale = n_pages, city_scale
        self.input_rows = n_pages

    def setup(self) -> None:
        frames = inputs.city(self.seed, self.city_scale)
        edges = self.spark.createDataFrame(frames["edges"][["osmid", "geometry"]]).withColumnRenamed(
            "osmid", "edge_id"
        )
        self.segs = spatial.explode_segments(edges).select(
            "edge_id", "seg_idx", "ax", "ay", "bx", "by"
        ).localCheckpoint()
        self.raw = inputs.pages(self.spark, self.n_pages, self.seed, self.city_scale).localCheckpoint()
        self.licenses = synth.license_snapshots(self.spark).localCheckpoint()

    def warm_up(self) -> None:
        """One untimed pass, so the timed passes run on compiled plans and
        warm JIT code."""
        self._pass(self.raw)

    def _pass(self, raw):
        deduped = PG.attach_license_asof(PG.dedupe_latest(raw), self.licenses).localCheckpoint()
        snapped = PG.snap_pages_to_edges(deduped, self.segs, radius_m=self.radius_m).localCheckpoint()
        tiled = tiles.tile_edge_density(snapped, deduped, self.segs).localCheckpoint()
        tiled.count()
        return deduped, snapped, tiled

    def run_pass(self, k: int, tracer=None) -> dict:
        with _section(tracer, self.name, k), procs.Clock() as clock:
            out = self._pass(self.raw)
        return {"wall_s": clock.wall_s, "cpu_s": clock.cpu_s, "out": out}

    def digest(self, res: dict) -> str:
        deduped, snapped, tiled = res["out"]
        return checks.digest(deduped.drop("html"), snapped, tiled)

    def check(self, res: dict) -> list[str]:
        deduped, snapped, tiled = res["out"]
        expected = inputs.latest_text_sha256(self.spark, self.n_pages, self.seed)
        n_urls = inputs.distinct_urls(self.n_pages, self.seed)
        return checks.check_pages(deduped, snapped, tiled, expected, n_urls, self.radius_m)


WORKLOADS = {w.name: w for w in (Durable, Pages)}
