"""mvtspark benchmark: one seeded workload, end to end or traced by layer.

    python3 perfbench/run.py --workload northstar_z10 --seed 1 --seconds 10 --trace 0

Run from the repository root. The benchmark generates its inputs from
``--seed`` (cached under ``.perfbench/inputs``), runs the workload on a
``local[nproc]`` session, checks every pass, and prints one JSON line
last: ``{"correct", "attempted", "failed", "metrics"}``.

- ``--trace 0``: set up three times, each on a fresh session (the first
  also launches the JVM), and report the median as ``setup_s``; then run
  measured passes for ``--seconds`` and report the median pass
  (``wall_s`` and the rates derived from it).
- ``--trace 1``: set up the same way (tracing every set-up), time
  the kernels without Spark, then alternate an untraced pass with the
  pass cut into layers (each prefix
  of the pipeline run into a ``noop`` sink), reading Spark's stage and
  Python-node metrics after every action, and sampling the peak RSS of
  the JVM and its Python workers. Reports the per-layer metrics.

The full record of a run (every pass, check, probe and span) goes to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import Tracer  # noqa: E402

SETUP_REPS = 3
MIN_PASSES = 3
MIN_ROUNDS = 3
CALIB_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "mb_per_s": "MB/s",
}

#: per-layer metric -> (unit, better); every traced run reports all of
#: them, with 0 where the workload does not use the layer
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "sources.load_s": ("s", "lower"),
    "functions.udfs.broadcast_rings_s": ("s", "lower"),
    "setup.warmup_s": ("s", "lower"),
    "setup.cold_s": ("s", "lower"),
    "python.boot_s": ("s", "lower"),
    "python.init_s": ("s", "lower"),
    "sources.scan_s": ("s", "lower"),
    "operators.spatial.assign_tiles_s": ("s", "lower"),
    "operators.spatial.spatial_join_pip_s": ("s", "lower"),
    "operators.spatial.pip_keep_ratio": ("ratio", "higher"),
    "functions.udfs.pip_contains_bcast_s": ("s", "lower"),
    "kernels.geom.point_in_polygon_multi_s": ("s", "lower"),
    "operators.spatial.spatial_join_pip.kernel_share": ("ratio", "higher"),
    "operators.spatial.salted_tile_counts_s": ("s", "lower"),
    "operators.spatial.partial_agg_ratio": ("ratio", "lower"),
    "operators.spatial.skew_max_over_median": ("ratio", "lower"),
    "sources.tiles.encode_tiles_s": ("s", "lower"),
    "sources.tiles.encode_batch_s": ("s", "lower"),
    "kernels.mvt_batch.encode_tile_rows_flat_s": ("s", "lower"),
    "sources.tiles.encode_tiles.kernel_share": ("ratio", "higher"),
    "sources.tiles.max_tile_features": ("count", "lower"),
    "sources.tiles.decode_tiles_s": ("s", "lower"),
    "kernels.mvt_batch.decode_tile_rows_s": ("s", "lower"),
    "sources.tiles.decode_tiles.kernel_share": ("ratio", "higher"),
    "sources.tiles.tiles_per_s": ("1/s", "higher"),
    "sources.tiles.features_per_s": ("1/s", "higher"),
    "operators.multimodal.transcode_images_mrj_s": ("s", "lower"),
    "kernels.image.mrj_roundtrip_batch_s": ("s", "lower"),
    "operators.multimodal.transcode_images_mrj.kernel_share": ("ratio", "higher"),
    "check.tile_parity_s": ("s", "lower"),
    "sources.image_scan_s": ("s", "lower"),
    "check.psnr_s": ("s", "lower"),
    "python.run_s": ("s", "lower"),
    "python.bytes_sent": ("bytes", "lower"),
    "python.bytes_recv": ("bytes", "lower"),
    "spark.task_run_s": ("s", "lower"),
    "spark.task_cpu_s": ("s", "lower"),
    "spark.task_wait_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_fetch_wait_s": ("s", "lower"),
    "spark.task_max_over_median": ("ratio", "lower"),
    "checks.failed_frac": ("ratio", "lower"),
    "host.calib_s": ("s", "lower"),
    "host.peak_rss_mb": ("MB", "lower"),
    "trace.wall_s": ("s", "lower"),
    "trace.untraced_wall_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.layer_sum_error": ("ratio", "lower"),
}


class Tally:
    """Counts checks attempted and failed, and remembers which failed."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.failures: dict[str, int] = {}

    def add(self, checks: dict[str, bool]) -> bool:
        self.attempted += len(checks)
        for name, ok in checks.items():
            if not ok:
                self.failed += 1
                self.failures[name] = self.failures.get(name, 0) + 1
        return all(checks.values())


def _session(work: str, cores: int):
    """``local[cores]`` with a JVM heap well below physical memory,
    no console progress bars, and every scratch file inside ``work``."""
    from mvtspark.session import get_spark

    from perfbench.host import mem_total_mb

    os.environ["MVTSPARK_DRIVER_MEM"] = f"{min(4096, mem_total_mb() // 4)}m"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # the spark-submit launcher
    return get_spark(
        "perfbench",
        cores=cores,
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Djava.net.preferIPv4Stack=true {jvm_opts}",
        },
    )


def calibrate(spark, cores: int) -> list[float]:
    """Constant-work host probe: a codegen sum over a fixed range, one
    task per core, no I/O and no Python. Its time moves only with the
    host, so a slow run can be told from a slow program."""
    from pyspark.sql import functions as F

    out = []
    for _ in range(CALIB_REPS):
        t = time.perf_counter()
        spark.range(0, 32_000_000, numPartitions=cores).select(
            F.sum((F.col("id") * 2654435761) % 1000003)
        ).collect()
        out.append(time.perf_counter() - t)
    return out


def set_up(wl, spark_start, tr, tally: Tally, rec: dict):
    """Set the workload up ``SETUP_REPS`` times, each on a fresh session:
    start the session, load the input, build the catalog and run one
    checked warm-up pass. The first set-up also launches the JVM; later
    ones stop the session and start a new one in the same JVM, so they
    pay session start and Python-worker boot again, but not the JVM
    launch. Returns the last session's metrics reader, the set-up times
    and per set-up the span self times and Python-node metrics (traced
    only).
    """
    from perfbench.sparkmetrics import SparkMetrics, summarize

    spark, reps, selfs, engines = None, [], [], []
    for _ in range(SETUP_REPS):
        if spark is not None:
            wl.release()
            spark.stop()
        first_span = len(tr.spans)
        t0 = time.perf_counter()
        with tr.span("setup"):
            with tr.span("session.get_spark"):
                spark = spark_start()
            sm = SparkMetrics(spark)
            mark = sm.mark() if tr.enabled else None
            checks = wl.setup(spark, tr)
            with tr.span("setup.warmup"):
                checks.update(wl.run().checks)
        reps.append(time.perf_counter() - t0)
        tally.add(checks)
        if tr.enabled:
            selfs.append(tr.self_times(first_span))
            engines.append(summarize(sm.since(mark), 0))
    rec["setup_reps_s"] = reps
    return sm, reps, selfs, engines


def run_untraced(wl, spark_start, seconds: float, tally: Tally, rec: dict):
    tr = Tracer(rec["run"], enabled=False)
    _, reps, _, _ = set_up(wl, spark_start, tr, tally, rec)
    passes, ok_passes = [], []
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < seconds:
        t = time.perf_counter()
        out = wl.run()
        dt = time.perf_counter() - t
        passes.append(dt)
        if tally.add(out.checks):
            ok_passes.append(dt)
    rec["passes_s"] = passes
    wall = statistics.median(ok_passes or passes)
    # both rates are ``wall_s`` rescaled by a per-workload constant
    metrics = {
        "setup_s": statistics.median(reps),
        "wall_s": wall,
        "rows_per_s": wl.n_points / wall,
        "mb_per_s": wl.input_bytes / 1e6 / wall,
    }
    return metrics


def traced_round(wl, cuts, sm, tr, tally: Tally) -> dict:
    """One untraced pass, then the pass again as its cuts, each cut's
    action timed alone and its Spark metrics read after it. A cut no
    other cut extends ends a chain; those are the pass's own actions, so
    their metrics and times (bookkeeping included) make the traced pass.
    A layer's time and its task-seconds are its cut's minus its base's.
    ``ok`` says whether the untraced pass passed its checks.
    """
    from perfbench.sparkmetrics import Window, summarize

    with tr.span("pass.untraced"):
        t = time.perf_counter()
        out = wl.run()
        plain = time.perf_counter() - t
    ok = tally.add(out.checks)
    tails = {c.layer for c in cuts} - {c.base for c in cuts}
    times, task_s, traced_wall, win = {}, {}, 0.0, Window()
    for c in cuts:
        t_cut = time.perf_counter()
        m = sm.mark()
        with tr.span("cut." + c.layer):
            t = time.perf_counter()
            c.action()
            times[c.layer] = time.perf_counter() - t
        w = sm.since(m)
        task_s[c.layer] = sum(s.run_s for s in w.stages)
        if c.layer in tails:
            win.stages += w.stages
            for k, v in w.sql.items():
                win.sql[k] = win.sql.get(k, 0.0) + v
            traced_wall += time.perf_counter() - t_cut

    def layer(d, c):
        return d[c.layer] - (d[c.base] if c.base else 0.0)

    return {"plain": plain, "ok": ok, "traced": traced_wall,
            "layers": {c.layer: layer(times, c) for c in cuts},
            "task_s": {c.layer: layer(task_s, c) for c in cuts},
            "engine": summarize(win, wl.n_points if wl.salted else 0),
            "stats": out.stats}


#: per-layer metrics read off each set-up: span self times and the
#: Python-worker start-up metrics
SETUP_SPANS = ("session.get_spark", "sources.load",
               "functions.udfs.broadcast_rings", "setup.warmup")
SETUP_ENGINE = ("python.boot_s", "python.init_s")


def run_traced(wl, spark_start, seconds: float, tally: Tally, rec: dict):
    from perfbench.host import RssSampler
    from perfbench.workloads import KERNEL_OF

    tr = Tracer(rec["run"])
    sm, reps, setup_selfs, setup_engines = set_up(
        wl, spark_start, tr, tally, rec)
    first_span = len(tr.spans)
    with tr.span("kernels"):
        wl.kernels(tr)
    kernel_selfs = tr.self_times(first_span)

    cuts = wl.cuts()
    rounds: list[dict] = []
    with RssSampler(_jvm_pid()) as rss:
        t_start = time.perf_counter()
        while len(rounds) < MIN_ROUNDS or time.perf_counter() - t_start < seconds:
            rounds.append(traced_round(wl, cuts, sm, tr, tally))
    rec["rounds"] = rounds

    def med(f, over=rounds):
        return statistics.median(f(r) for r in over)

    metrics = {name: 0.0 for name in PER_LAYER}
    for layer in rounds[0]["layers"]:
        metrics[layer + "_s"] = med(lambda r: r["layers"][layer])
    for name in rounds[0]["engine"]:
        metrics[name] = med(lambda r: r["engine"][name])
    metrics["spark.task_wait_s"] = med(
        lambda r: r["engine"]["spark.task_run_s"] - r["engine"]["spark.task_cpu_s"]
    )
    # set-up layers: medians over the set-ups, like ``setup_s``
    for span in SETUP_SPANS:
        metrics[span + "_s"] = med(lambda st: st.get(span, 0.0), setup_selfs)
    for name in SETUP_ENGINE:
        metrics[name] = med(lambda e: e[name], setup_engines)
    metrics["setup.cold_s"] = reps[0]
    for span in ("functions.udfs.pip_contains_bcast",
                 "sources.tiles.encode_batch", *KERNEL_OF):
        if span in kernel_selfs:
            metrics[span + "_s"] = kernel_selfs[span]
    for kernel, layer in KERNEL_OF.items():
        # the kernel's single-core time over the task-seconds the layer
        # adds to its base cut (skewed or coalesced stages keep cores idle)
        core_s = med(lambda r: r["task_s"].get(layer, 0.0))
        if kernel in kernel_selfs and core_s > 0:
            metrics[layer + ".kernel_share"] = kernel_selfs[kernel] / core_s
    # a pass that failed its checks is not timed
    plain = med(lambda r: r["plain"],
                [r for r in rounds if r["ok"]] or rounds)
    stats = rounds[0]["stats"]
    metrics["operators.spatial.pip_keep_ratio"] = stats.get("pip_keep_ratio", 0.0)
    metrics["sources.tiles.max_tile_features"] = float(
        stats.get("max_tile_features", 0))
    metrics["sources.tiles.tiles_per_s"] = stats.get("tiles", 0) / plain
    metrics["sources.tiles.features_per_s"] = stats.get("features", 0) / plain
    metrics["host.peak_rss_mb"] = rss.peak_mb
    metrics["trace.untraced_wall_s"] = plain
    metrics["trace.wall_s"] = med(lambda r: r["traced"])
    metrics["trace.overhead_s"] = metrics["trace.wall_s"] - plain
    # the layers telescope to the chains' final actions, so this checks
    # the cut times against the untraced pass (noise and cut overhead);
    # it cannot show a layer missing from the cuts
    layer_sum = sum(metrics[c.layer + "_s"] for c in cuts)
    metrics["trace.layer_sum_error"] = abs(layer_sum - plain) / plain
    rec["spans"] = tr.spans
    return metrics


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its session and JVM (``finally`` below)
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))

    # the program under test lives in the checkout, next to this package;
    # Python workers find it through PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import mvtspark  # noqa: F401  (fail before any work without it)

    from perfbench.host import nproc, stop_spark
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    if args.seed < 0:
        ap.error("--seed must be >= 0 (it offsets the generators' row ids)")
    work = os.path.join(ROOT, ".perfbench")
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    rec: dict = {"run": run_id, "args": vars(args)}
    t = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed)
    rec["inputs_s"] = time.perf_counter() - t
    cores = nproc()
    tally = Tally()
    spark = None

    def spark_start():
        nonlocal spark
        spark = _session(work, cores)
        return spark

    try:
        runner = run_traced if args.trace else run_untraced
        metrics = runner(wl, spark_start, args.seconds, tally, rec)
        rec["catalog"] = {"kind": wl.rings.kind, "rings": wl.n_tiles}
        calib = calibrate(spark, cores)
        rec["host.calib_s"] = calib
        if args.trace:
            metrics["host.calib_s"] = statistics.median(calib)
            metrics["checks.failed_frac"] = tally.failed / max(tally.attempted, 1)
        wl.release()
    finally:
        if spark is not None:
            stop_spark(spark)
    units = ({k: v[0] for k, v in PER_LAYER.items()} if args.trace
             else END_TO_END)
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    rec.update(result, failures=tally.failures, cores=cores)
    spans = rec.pop("spans", [])
    with open(os.path.join(results, run_id + ".json"), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    if spans:
        with open(os.path.join(results, run_id + "-spans.json"), "w") as f:
            json.dump([vars(s) for s in spans], f)
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
