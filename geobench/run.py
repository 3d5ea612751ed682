#!/usr/bin/env python3
"""geobench: seeded, closed-loop benchmark of the spark-geotile engine.

Usage (from the repository root)::

    python3 geobench/run.py --workload crawl_tiles --seed 1 --seconds 10 --trace 0

One process runs one workload on ``local[<cores>]``:

1. inputs for (workload, seed) are generated, or reused from the parquet
   cache, and the expected output is computed with numpy (not timed); then
   the generated tables are dropped, so the driver keeps only what the
   output checks need;
2. set-up — ``get_spark`` through reading, persisting and counting the
   inputs — runs ``SETUPS`` times, each on a fresh Spark session; the first
   one also launches the JVM;
3. on the last session, iterations run back to back (closed loop, one
   client): the cold one (first use of the session's Python workers and
   of every operator), the workload's ``warmup`` untimed ones, then the
   window: as many as fit in ``--seconds`` and at least ``MIN_SAMPLES``.  Every iteration's
   output is checked, the cold and warm-up ones too.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced iterations in the window and reports the per-layer
metrics of the traced ones (medians), with the tracing overhead and the
share of traced wall covered by the engine-call spans.

The last stdout line is one compact JSON object
``{"correct", "attempted", "failed", "metrics"}``; the full record (config,
every iteration, spans, layer table) goes to
``.run/out/<workload>-s<seed>-t<trace>.json`` under this directory.

End-to-end metrics: ``setup_s`` (median over the set-ups), ``cold_s``,
``rows_per_s`` (input rows / median window iteration) and ``peak_rss_mb``
(summed RSS of driver, JVM and Python workers, sampled from /proc, with the
driver heap capped at ``DRIVER_MEMORY``).  The share of failed iterations
is the ``failed``/``attempted`` pair.

Which end-to-end metric each layer metric should move:

==========================================================  ===========================================
layer metrics                                               end-to-end metric -> workload
==========================================================  ===========================================
pip_join_broadcast / burn_base_tiles_pip python_run_ms,     rows_per_s -> crawl_tiles; flat on
arrow_bytes                                                 webtext_dedup
``*.python_boot_ms``, ``*.driver_s``                        cold_s, peak_rss_mb -> both
raster.pyramid_reduce.*                                     rows_per_s -> crawl_tiles
textops.dedup_clusters_df shuffle_bytes, jvm_gc_ms,         rows_per_s -> webtext_dedup; flat on
task_skew                                                   crawl_tiles
session.get_spark.busy_s, session.get_spark.launch_s       setup_s -> both
==========================================================  ===========================================

Only crawl_tiles and webtext_dedup fit the benchmark's time budget.
skewed_pip_shuffle (joins.polygon_cover_cells, pip_join_shuffle_adaptive,
knn_join) and pyramid_write_resume (pipeline.run_tiling and its resume) run
the same way, checks and traces included, but only by hand.

Numbers are only comparable on one host: the repository's earlier board
results (BENCH_r01..r05) came from a 32-core machine and are not.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(HERE, ".run")
sys.path.insert(0, ROOT)

from geobench import gen, spans  # noqa: E402
from geobench.workloads import WORKLOADS, Ctx  # noqa: E402

SETUPS = 3
# window iterations per untraced run
MIN_SAMPLES = 3
# a traced run alternates untraced and traced iterations; two pairs suffice
MIN_TRACED = 2
# the window may overrun --seconds by at most this much to reach its samples
HARD_EXTRA_S = 60
# the inputs are small: a 2 GB driver heap keeps the memory footprint, and
# so peak_rss_mb, from following the engine's 8 GB default
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

SPAN_METRICS = {
    "busy_s": "s",
    "driver_s": "s",
    "executor_cpu_ms": "ms",
    "jvm_gc_ms": "ms",
    "python_boot_ms": "ms",
    "python_run_ms": "ms",
    "arrow_bytes": "bytes",
    "shuffle_bytes": "bytes",
    "task_skew": "ratio",
    "python_stages": "count",
}

# Per-layer metrics reported on stdout: the spans of the workloads listed in
# BENCHMARK.json, minus metrics that are zero by construction for a span.
# Every span's full row, for any workload, is kept in the sidecar record.
_NO_PYTHON = ("python_boot_ms", "python_run_ms", "arrow_bytes", "python_stages")
SPANS = {
    "session.get_spark": ("busy_s",),
    "geotag.geotag_first": tuple(m for m in SPAN_METRICS if m not in _NO_PYTHON),
    "joins.with_tile": tuple(m for m in SPAN_METRICS if m != "shuffle_bytes"),
    "joins.pip_join_broadcast": tuple(SPAN_METRICS),
    "raster.burn_base_tiles_pip": tuple(SPAN_METRICS),
    "raster.pyramid_reduce": tuple(SPAN_METRICS),
    "raster.tile_checksums": tuple(m for m in SPAN_METRICS if m != "shuffle_bytes"),
    "textops.dedup_clusters_df": tuple(SPAN_METRICS),
}

RATIOS = {
    "geotag.geotag_first.match_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}


def per_layer_units() -> dict:
    """Every per-layer metric name → unit (the ``per_layer`` list of
    BENCHMARK.json)."""
    out = {f"{span}.{m}": SPAN_METRICS[m] for span, ms in SPANS.items() for m in ms}
    # the first get_spark launches the JVM: a one-shot job pays it, while
    # setup_s, a median over set-ups, leaves it out
    out["session.get_spark.launch_s"] = "s"
    out.update(RATIOS)
    return out


def _prepare_env(cores: int) -> dict:
    """Keep every file Spark, the JVM and Python write inside RUN_DIR."""
    work = os.path.join(RUN_DIR, "work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    return {
        "work": work,
        "conf": {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    }


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it was launched in, and wait until every
    process this one started has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while len(spans.descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in spans.descendants(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


class Runner:
    """Runs and checks the iterations of one workload, counting failures."""

    def __init__(self, w, expected, ctx):
        self.w, self.expected, self.ctx = w, expected, ctx
        self.attempted = 0
        self.failed = 0
        self.errors: list = []

    def iterate(self, tracer) -> float | None:
        """One checked iteration; returns its wall seconds, or None if it
        raised or its output failed the check."""
        self.attempted += 1
        self.ctx.iteration = self.attempted
        try:
            t0 = time.perf_counter()
            out = self.w.iterate(self.ctx, tracer)
            wall = time.perf_counter() - t0
        except Exception:  # a failed iteration is counted, the run goes on
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=5))
            print(self.errors[-1], file=sys.stderr)
            return None
        finally:
            tracer.release()
        gc.collect()
        errs = self.w.check(out, self.expected)
        if errs:
            self.failed += 1
            self.errors.extend(errs)
            print(f"[geobench] check failed: {errs}", file=sys.stderr)
            return None
        if "resume_s" in out:
            self.ctx.notes.setdefault("resume_s", []).append(out["resume_s"])
        return wall


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "engine")) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"[geobench] no engine package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    from engine.session import get_spark

    w = WORKLOADS[args.workload]
    traced = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    env = _prepare_env(cores)
    print(f"[geobench] workload={w.name} seed={args.seed} nproc={cores} master={master} "
          f"trace={args.trace}", file=sys.stderr)

    t_gen = time.perf_counter()
    data_dir, tables, hashes = gen.load_inputs(os.path.join(RUN_DIR, "cache"), w.name, args.seed, w.size)
    expected = w.reference(tables)
    counts = {t: len(df) for t, df in tables.items()}
    n_rows = counts[w.rows_table]
    # only the expected outputs stay in the driver; the generated tables
    # would otherwise count toward peak_rss_mb
    del tables
    gc.collect()
    t_gen = time.perf_counter() - t_gen

    run_id = f"{w.name}-{args.seed}-{os.getpid()}"
    setup_s, get_spark_s, cold_s = [], [], None
    warm, traced_walls, layers = [], [], []
    samples, need = (traced_walls, MIN_TRACED) if traced else (warm, MIN_SAMPLES)
    ctx = Ctx(None, {}, counts, env["work"], n_rows)
    runner = Runner(w, expected, ctx)
    spark = tracer = None
    with spans.RssSampler() as rss:
        try:
            for rep in range(SETUPS):
                t0 = time.perf_counter()
                spark = get_spark(f"geobench-{w.name}", master=master, shuffle_partitions=cores,
                                  extra_conf=env["conf"])
                get_spark_s.append(time.perf_counter() - t0)
                spark.sparkContext.setLogLevel("ERROR")
                ctx.dfs = w.load(spark, data_dir, cores)
                setup_s.append(time.perf_counter() - t0)
                if rep < SETUPS - 1:
                    spark.stop()
            ctx.spark = spark
            plain = spans.Tracer(spark, run_id, False)
            tracer = spans.Tracer(spark, run_id, True)
            cold_s = runner.iterate(plain)
            for _ in range(w.warmup):
                runner.iterate(plain)
            t_end = time.perf_counter() + args.seconds
            while time.perf_counter() < t_end or (len(samples) < need and not runner.failed
                                                  and time.perf_counter() < t_end + HARD_EXTRA_S):
                # traced runs alternate which of each pair goes first, so
                # the warm-up trend does not bias the tracing overhead
                for t in ((plain, tracer)[:: 1 if len(warm) % 2 == 0 else -1] if traced else (plain,)):
                    first = len(tracer.spans)
                    wall = runner.iterate(t)
                    if t is tracer:
                        tracer.collect()
                    if wall is None:
                        continue
                    if t is plain:
                        warm.append(wall)
                    else:
                        traced_walls.append(wall)
                        layers.append(_iteration_layers(tracer, first, wall))
        finally:
            if spark is not None:
                _stop_spark(spark)
            shutil.rmtree(env["work"], ignore_errors=True)
    peak_rss_mb = rss.peak / 2**20

    ok = runner.failed == 0 and cold_s is not None and len(samples) >= need
    if traced:
        metrics = _layer_metrics(layers, get_spark_s, warm, traced_walls)
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setup_s), "unit": "s"},
            "cold_s": {"value": cold_s or 0.0, "unit": "s"},
            "rows_per_s": {"value": n_rows / statistics.median(warm) if warm else 0.0, "unit": "1/s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        }
    record = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": cores, "master": master, "driver_memory": DRIVER_MEMORY,
        "input_rows": n_rows, "input_hashes": hashes,
        "generate_and_reference_s": t_gen, "setup_s": setup_s, "get_spark_s": get_spark_s,
        "cold_s": cold_s, "warm_s": warm, "traced_s": traced_walls,
        "resume_s": ctx.notes.get("resume_s", []), "peak_rss_mb": peak_rss_mb,
        "attempted": runner.attempted, "failed": runner.failed,
        "failed_frac": runner.failed / runner.attempted, "errors": runner.errors[:20],
        "metrics": metrics,
        "spans": [vars(s) for s in tracer.spans],
        "layers": layers,
    }
    out_dir = os.path.join(RUN_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{w.name}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"correct": ok, "attempted": runner.attempted, "failed": runner.failed, "metrics": metrics},
                     separators=(",", ":")))
    return 0


def _iteration_layers(tracer, first: int, wall: float) -> dict:
    """Layer table of the traced iteration whose spans start at ``first``,
    with its ratios and the share of its wall the spans cover."""
    table = spans.layer_table(tracer.spans[first:])
    notes = tracer.notes
    if "joins.pip_join_shuffle_adaptive" in table:
        cand = table["joins.pip_join_shuffle_adaptive"].get("join_rows", 0.0)
        notes["joins.pip_join_shuffle_adaptive.refine_yield"] = notes.get("_pairs", 0.0) / cand if cand else 0.0
    covered = sum(row["busy_s"] for row in table.values())
    table["_ratios"] = {k: v for k, v in notes.items() if not k.startswith("_")}
    table["_wall"] = {"traced_s": wall, "covered_s": covered}
    return table


def _layer_metrics(layers: list, get_spark_s: list, warm: list, traced_walls: list) -> dict:
    """The per-layer metrics: medians over the traced iterations; 0 for a
    span the workload does not call."""
    med = spans.median_table(layers) if layers else {}
    out = {}
    for name, unit in per_layer_units().items():
        span, _, metric = name.rpartition(".")
        if name in RATIOS:
            value = med.get("_ratios", {}).get(name, 0.0)
        elif span == "session.get_spark":
            value = get_spark_s[0] if metric == "launch_s" else statistics.median(get_spark_s)
        else:
            value = med.get(span, {}).get(metric, 0.0)
        out[name] = {"value": value, "unit": unit}
    if traced_walls and warm:
        out["trace.overhead_s"]["value"] = statistics.median(traced_walls) - statistics.median(warm)
        out["trace.coverage"]["value"] = statistics.median(
            t["_wall"]["covered_s"] / t["_wall"]["traced_s"] for t in layers)
    return out


if __name__ == "__main__":
    sys.exit(main())
