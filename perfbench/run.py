"""Seeded end-to-end benchmark of the engine.

    python3 perfbench/run.py --workload {durable,pages} --seed N --seconds S --trace {0,1}

Run from the repository root. One driver process runs Spark at
``local[<cpus>]``: it starts the session, generates the workload's inputs
from the seed three times (``setup_s`` counts the median), warms up, then
runs timed passes until ``--seconds`` of passes are measured (at least the
workload's ``min_passes``) and checks every pass's output. The last line
of stdout is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` the passes run under the span tracer
(perfbench/tracing.py) and the metrics are per layer.

Scratch files go to ``.bench_work/`` and are removed at exit; span records
and run summaries go to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "input_rows_per_s": "rows/s", "peak_rss_mib": "MiB",
}
#: enrich spans too small to spill; their spill counter is not reported,
#: which keeps the per-layer list within 128 metrics
NO_SPILL = frozenset({
    "enrich.improve_bike_edges", "enrich.add_cycle_paths", "enrich.add_gradient",
    "enrich.add_traffic_lights", "enrich.add_cycle_path_width", "enrich.add_bicycle_parking",
    "enrich.add_pt_stops",
})
TRACE_METRICS = {"trace.wall_s": "s", "trace.top_coverage": "share"}
#: per-layer metrics a pass measures outside its root span: name -> (pass key, unit)
PASS_METRICS = {
    "checkpoint.resume_s": ("resume_s", "s"),
    "checkpoint.snapshot_mib": ("snapshot_mib", "MiB"),
    "pipeline.phase_run_s": ("phase_s", "s"),
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def per_layer_names(span_names, counters) -> dict[str, str]:
    """Name -> unit of every per-layer metric, in report order."""
    out = {}
    for span in span_names:
        for counter, unit in counters.items():
            if not (counter == "spill_mib" and span in NO_SPILL):
                out[f"{span}.{counter}"] = unit
    out.update(TRACE_METRICS)
    out.update({name: unit for name, (_, unit) in PASS_METRICS.items()})
    return out


def configure_env(work: str) -> None:
    """Point Spark, the JVM and Python temp files into ``work`` and let the
    Python workers import the engine from this checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    jto = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{jto} -Djava.io.tmpdir={tmp}".strip()
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tempfile.tempdir = tmp


def quiesce(spark) -> None:
    """Release the previous pass's outputs and collect garbage in both the
    Python driver and the JVM, so every pass starts from a similar heap."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until its process tree is gone."""
    from pyspark import SparkContext

    from perfbench import procs

    proc = getattr(SparkContext._gateway, "proc", None)
    tree = procs.process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            with contextlib.suppress(OSError):
                os.kill(pid, 9)


def code_key(engine_fingerprint: str) -> str:
    """Fingerprint of the engine and of this benchmark's sources."""
    h = hashlib.sha256(engine_fingerprint.encode())
    here = os.path.dirname(os.path.abspath(__file__))
    for name in sorted(os.listdir(here)):
        if name.endswith(".py"):
            with open(os.path.join(here, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def check_digest_record(out_dir: str, key: str, digest: str) -> list[str]:
    """Compare with the digest an earlier run of the same code, workload and
    seed recorded in this checkout (untraced or traced); record it if new."""
    path = os.path.join(out_dir, f"{key}.sha256")
    if os.path.exists(path):
        with open(path) as f:
            prev = f.read().strip()
        return [] if prev == digest else [f"output digest differs from an earlier run ({path})"]
    with open(path, "w") as f:
        f.write(digest + "\n")
    return []


def run(args) -> dict:
    from osmnetfusion_spark import checkpoint
    from osmnetfusion_spark.session import get_session
    from perfbench import procs, tracing, workloads

    work = os.path.join(ROOT, ".bench_work")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.perf_counter()
    spark = get_session(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        wl = workloads.WORKLOADS[args.workload](
            spark, args.seed, work, os.path.join(ROOT, "tests", "golden")
        )
        gen = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup()
            gen.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm_up()
        start_s += time.perf_counter() - t
        setup_s = start_s + statistics.median(gen)
        log(f"session+warm-up {start_s:.2f} s, generation {[round(g, 2) for g in gen]}")

        tracer = tracing.Tracer(spark) if args.trace else None
        if tracer:
            tracer.install()
        key = f"{args.workload}-seed{args.seed}-{code_key(checkpoint.code_fingerprint())}"
        passes, ok_ids, attempted, failed, measured, ref = [], [], 0, 0, 0.0, None
        steal0 = procs.steal_ticks()
        while attempted < wl.min_passes or measured < args.seconds:
            attempted += 1
            pass_id = f"pass-{attempted}"
            res = None
            quiesce(spark)
            t = time.perf_counter()
            try:
                res = wl.run_pass(attempted, tracer)
                digest = wl.digest(res)
                errors = wl.check(res)
                if ref is None:
                    ref = digest
                    errors += check_digest_record(out_dir, key, digest)
                elif digest != ref:
                    errors.append(f"{pass_id}: output digest differs from pass 1")
            except Exception:
                errors = [traceback.format_exc()]
            measured += res["wall_s"] if res else time.perf_counter() - t
            if errors:
                failed += 1
                log(f"{pass_id} FAILED: " + "; ".join(errors))
            else:
                ok_ids.append(pass_id)
                passes.append({k: v for k, v in res.items() if isinstance(v, float)})
                log(f"{pass_id} ok: " + ", ".join(f"{k}={v:.3f}" for k, v in passes[-1].items()))
        steal1 = procs.steal_ticks()
        steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        log(f"CPU steal by the host during the passes: {steal:.1%}")
        if tracer:
            tracer.uninstall()
        rss = procs.peak_rss_mib(procs.process_tree(os.getpid()))
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if not passes:
        raise RuntimeError(f"all {attempted} passes failed")

    wall = statistics.median(p["wall_s"] for p in passes)
    if tracer:
        tracer.write(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.jsonl"))
        per_pass = [tracer.pass_metrics(pass_id) for pass_id in ok_ids]
        units = per_layer_names(tracing.SPAN_NAMES, tracing.COUNTERS)
        values = {}
        for name in units:
            if name in PASS_METRICS:
                key = PASS_METRICS[name][0]
                vals = [p[key] for p in passes if key in p] or [0.0]
            else:
                vals = [m.get(name, 0.0) for m in per_pass]
            values[name] = statistics.median(vals)
        metrics = {n: {"value": values[n], "unit": u} for n, u in units.items()}
        log(f"traced wall_s {values['trace.wall_s']:.3f}, top-level spans cover "
            f"{values['trace.top_coverage']:.1%} of it")
    else:
        values = {"setup_s": setup_s, "wall_s": wall,
                  "cpu_s": statistics.median(p["cpu_s"] for p in passes),
                  "input_rows_per_s": wl.input_rows / wall, "peak_rss_mib": rss}
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    with open(os.path.join(out_dir, f"run-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({**result, "passes": passes, "setup_gen_s": gen, "session_s": start_s,
                   "steal_share": steal}, f)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("durable", "pages"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "osmnetfusion_spark")):
        log(f"engine package osmnetfusion_spark not found under {ROOT}")
        return 2
    work = os.path.join(ROOT, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
