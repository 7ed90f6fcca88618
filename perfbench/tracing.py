"""Outside-in span tracer for the traced benchmark run.

The tracer replaces public layer functions on their modules (the pipeline
reaches them as module attributes, e.g. ``enrich.landuse_ratio_all``) with
wrappers that open a span, call the original, materialize the returned
DataFrames with an eager ``localCheckpoint`` and close the span. Work is
therefore charged to the layer that defines it, not to the next action.

Each span runs its Spark jobs under its own job group. After a pass, the
stages of each span's jobs are read from Spark's status store, which is
populated with the UI disabled. A stage listed by several jobs is charged
to the first one, which is the job that ran it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

from osmnetfusion_spark import checkpoint
from osmnetfusion_spark.operators import spatial
from osmnetfusion_spark.plans import enrich, merge, pages, simplify, tiles

#: (owner, attribute, span name) of every traced layer function
TARGETS = (
    *[(enrich, f, f"enrich.{f}") for f in (
        "improve_bike_edges", "add_cycle_paths", "add_gradient", "add_traffic_lights",
        "add_cycle_path_width", "add_bicycle_parking", "add_pt_stops", "update_idxs",
        "landuse_ratio_all",
    )],
    *[(simplify, f, f"simplify.{f}") for f in (
        "split_curves", "curve_split_nodes", "node_importance", "add_buffer_radius",
        "cluster_nodes", "split_edges_in_buffers", "buffer_split_nodes", "reassign_nodes",
    )],
    *[(merge, f, f"merge.{f}") for f in ("merge_nodes", "merge_edges", "finalize_edges")],
    *[(pages, f, f"pages.{f}") for f in (
        "dedupe_latest", "attach_license_asof", "snap_pages_to_edges",
    )],
    (spatial, "explode_segments", "spatial.explode_segments"),
    (tiles, "tile_edge_density", "tiles.tile_edge_density"),
    (checkpoint.Snapshotter, "stage", "checkpoint.Snapshotter.stage"),
)

SPAN_NAMES = tuple(name for _, _, name in TARGETS)
#: per-span counter -> unit
COUNTERS = {
    "self_s": "s", "executor_run_s": "s", "shuffle_write_mib": "MiB",
    "spill_mib": "MiB", "task_skew": "ratio",
}
_MIB = 1024.0 * 1024.0


def _materialize(out):
    if isinstance(out, DataFrame):
        return out.localCheckpoint()
    if isinstance(out, tuple):
        return tuple(_materialize(o) for o in out)
    return out


class Tracer:
    """Spans of one benchmark process.

    ``install`` the wrappers, run each traced pass inside ``root``, then
    ``uninstall``. Outside a root span the wrappers call straight through.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._saved: list[tuple] = []
        self._t0 = time.perf_counter()
        self._json = None

    # ------------------------------------------------------------ spans
    def install(self) -> None:
        for owner, attr, name in TARGETS:
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(name, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrap(self, name, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self._stack:  # outside a traced pass
                return fn(*args, **kwargs)
            span = self._open(name)
            try:
                return _materialize(fn(*args, **kwargs))
            finally:
                self._close(span)

        return traced

    def _open(self, name: str, pass_id: str | None = None) -> dict:
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "pass": pass_id if parent is None else parent["pass"],
            "start_s": time.perf_counter() - self._t0,
            "children_s": 0.0,
        }
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(f"perfbench-{span['id']}", name)
        return span

    def _close(self, span: dict) -> None:
        span["dur_s"] = time.perf_counter() - self._t0 - span["start_s"]
        span["self_s"] = span["dur_s"] - span.pop("children_s")
        self._stack.pop()
        if self._stack:
            parent = self._stack[-1]
            parent["children_s"] += span["dur_s"]
            self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def root(self, name: str, pass_id: str):
        """The root span of one traced pass; stage counters are read when
        it closes."""
        span = self._open(name, pass_id)
        try:
            yield span
        finally:
            self._close(span)
            self.collect(pass_id)

    # ---------------------------------------------------- status store
    def _to_json(self, obj) -> dict | list:
        if self._json is None:
            jvm = self.sc._jvm
            scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self._json.registerModule(scala_module.__getattr__("MODULE$"))
        return json.loads(self._json.writeValueAsString(obj))

    def collect(self, pass_id: str) -> None:
        """Attach stage counters to every span of ``pass_id``."""
        tracker = self.sc.statusTracker()
        owned = []
        for span in self.spans:
            if span["pass"] == pass_id:
                for job in tracker.getJobIdsForGroup(f"perfbench-{span['id']}"):
                    owned.append((job, span))
        seen: set[int] = set()
        for span in self.spans:
            if span["pass"] == pass_id:
                span.update(jobs=0, stages=0, stages_missing=0, executor_run_s=0.0,
                            shuffle_write_mib=0.0, spill_mib=0.0, task_ms=[])
        for job, span in sorted(owned, key=lambda js: js[0]):
            span["jobs"] += 1
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._to_json(self.store.lastStageAttempt(sid))
                except Py4JJavaError:  # evicted from the store's retention window
                    span["stages_missing"] += 1
                    continue
                if st["status"] != "COMPLETE":
                    continue
                span["stages"] += 1
                span["executor_run_s"] += st["executorRunTime"] / 1000.0
                span["shuffle_write_mib"] += st["shuffleWriteBytes"] / _MIB
                span["spill_mib"] += st["diskBytesSpilled"] / _MIB
                for t in self._to_json(self.store.taskList(sid, st["attemptId"], 1 << 20)):
                    m = t.get("taskMetrics")
                    if m is not None:
                        span["task_ms"].append(m["executorRunTime"])
        for span in self.spans:
            if span["pass"] == pass_id:
                ms = span.pop("task_ms")
                span["tasks"] = len(ms)
                span["task_skew"] = max(ms) / max(statistics.median(ms), 1.0) if ms else 0.0

    # ----------------------------------------------------------- output
    def pass_metrics(self, pass_id: str) -> dict[str, float]:
        """Per-layer counters of one pass, summed over spans of each name.

        ``task_skew`` takes the largest span's value; the rest add up.
        Also ``top_coverage``: the share of the pass's root span covered
        by its direct children.
        """
        out: dict[str, float] = {}
        root = None
        top = 0.0
        for span in self.spans:
            if span["pass"] != pass_id:
                continue
            if span["parent"] is None:
                root = span
                continue
            if span["parent"] == root["id"]:
                top += span["dur_s"]
            for c in COUNTERS:
                key = f"{span['name']}.{c}"
                out[key] = max(out.get(key, 0.0), span[c]) if c == "task_skew" else out.get(key, 0.0) + span[c]
        out["trace.wall_s"] = root["dur_s"]
        out["trace.top_coverage"] = top / root["dur_s"]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(span) + "\n")
