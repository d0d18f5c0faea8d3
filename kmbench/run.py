#!/usr/bin/env python3
"""k-means fit benchmark: real ``kmeans.fit`` / ``kmeans_nd.fit_nd`` calls,
one at a time (a closed loop with one client), on ``local[nproc]``.

    python3 kmbench/run.py --workload lloyd-small --seed 1 --seconds 6 --trace 0

Run from the repository root. A run generates its inputs from ``--seed``,
sets the session up, times one cold fit, then repeats warm fits for
``--seconds`` seconds, checks every fit against a numpy reference, and
prints one JSON object as the last line of stdout. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` turns the Spark UI on, times the
calls into the program's modules, and reports the per-layer metrics.
The line before the result holds the run's settings, its condition
stamp (CPU steal, load average, a calibration loop) and the raw samples.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# The program under test; in a tree without it the benchmark fails here.
from kmeans_mapreduce_spark.operators import kmeans, kmeans_nd  # noqa: E402
from kmeans_mapreduce_spark.functions import distance  # noqa: E402
from kmeans_mapreduce_spark.session import get_spark  # noqa: E402
from kmeans_mapreduce_spark.sources import derive, loaders  # noqa: E402

import numpy as np  # noqa: E402

import reference  # noqa: E402
from tracing import SparkStatus, Tracer, union_len  # noqa: E402
from workloads import SMOKE, WORKLOADS, Workload, generate, read_points  # noqa: E402

WORK = os.path.join(ROOT, ".kmbench_work")
# Driver heap, fixed and touched at start: G1 grows a lazily committed heap
# by GC timing, which on a shared host made resident memory vary by a third
# from run to run. With a fixed, pre-touched heap the JVM's resident memory
# is the whole heap plus what lies outside it, so peak_rss_mb counts the
# heap as what a full GC leaves live instead (see heap_mb).
DRIVER_MEM = "2g"
# Seed of every fit's own draws (init_random, k-means|| sampling, reseeding).
# The inputs vary with --seed; the fit configuration does not, so the WSSSE a
# fit reaches moves with the program, not with a lucky or unlucky init.
FIT_SEED = 42
# Warm fits per run, at least, so that fit_s is the median of enough fits
# to pass over a slow one and the JIT warm-up of the first ones.
MIN_WARM = 5
# No warm fit past this many seconds of the run starts even if fewer than
# MIN_WARM have run, so that a run on a slow machine still ends in time.
LAST_START_S = 100.0


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs (self-test)")
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# deployment settings and run conditions
# ---------------------------------------------------------------------------

def pin_env(run_dir: str, trace: bool) -> dict:
    """Deployment settings every run uses, set before the JVM starts.
    Every file Spark, the JVM and Python write goes under ``run_dir``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_UI": "true" if trace else "false",
        # glibc's per-thread malloc arenas made the JVM's resident memory
        # outside its heap vary by 60 MB between runs of the same input
        "MALLOC_ARENA_MAX": "2",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # driver JVM only (JAVA_TOOL_OPTIONS also reaches the launcher JVM)
        "SPARK_SUBMIT_OPTS": " ".join(
            [os.environ.get("SPARK_SUBMIT_OPTS", ""), f"-Xms{DRIVER_MEM}", "-XX:+AlwaysPreTouch"]
        ).strip(),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
    }
    os.environ.update(settings)
    return settings


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def calib_ms() -> float:
    """Wall time of a fixed single-threaded Python loop: how fast this
    machine is running right now, whatever steal time shows."""
    t = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i * i
    return 1e3 * (time.perf_counter() - t)


def conditions(t0: list[int], load0: float, calib0: float) -> dict:
    d = [b - a for a, b in zip(t0, cpu_times())]
    total = sum(d[:8]) or 1
    return {
        "cpu_steal_pct": 100.0 * d[7] / total,
        "cpu_busy_pct": 100.0 * (total - d[3] - d[4]) / total,
        "loadavg_start": load0,
        "loadavg_end": loadavg(),
        "calib_ms_start": calib0,
        "calib_ms_end": calib_ms(),
    }


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_peak_rss() -> None:
    """Restart this process's peak-RSS count (Linux ``clear_refs`` 5), so
    input generation does not count against the program."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
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


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------

def load(spark, w: Workload, data_dir: str):
    """The workload input through the program's ``sources`` layer."""
    if w.source == "lineitem":
        return derive.points_2d(spark, data_dir)
    if w.source == "blobs":
        return loaders.load_table(spark, data_dir, "points")
    return derive.points_nd(spark, data_dir)


def run_fit(pts, w: Workload, seed: int):
    """One fit; returns (centres, WSSSE history)."""
    if w.nd:
        centers, history, _ = kmeans_nd.fit_nd(pts, w.k, max_iter=w.iters, tol=0.0, seed=seed)
        return centers, history
    r = kmeans.fit(pts, w.k, max_iter=w.iters, tol=0.0, seed=seed, init=w.init)
    return r.centers, r.wssse_history


def check(w: Workload, xy: np.ndarray, seed: int, outs: list) -> list[bool]:
    """Per fit: does its output match the reference? ``outs`` holds
    (centres, history, k-means|| centres drawn) or None for a fit that raised."""
    first = next((o for o in outs if o is not None), None)
    if w.nd:
        ref_c, ref_h = reference.lloyd_nd(xy, w.k, w.iters)
    else:
        if w.init == "random":
            bounds = (xy[:, 0].min(), xy[:, 0].max(), xy[:, 1].min(), xy[:, 1].max())
            init = kmeans.init_random(w.k, bounds, seed)
        else:
            # k-means|| draws on the cluster: replay the Lloyd iterations
            # that follow the centres the first fit drew
            init = first[2] if first else None
        ref_c, ref_h = reference.lloyd_2d(xy, init, w.iters, seed) if init else (None, None)
        ref_c = reference.centers_array(ref_c) if ref_c else None
    ok = []
    for out in outs:
        if out is None or ref_c is None:
            ok.append(False)
            continue
        centers, history, drawn = out
        ok.append(
            len(history) == w.iters
            and drawn == first[2]  # a repeat with the same seed draws the same centres
            and reference.close(history, ref_h)
            and reference.close(reference.centers_array(centers), ref_c)
        )
    return ok


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the finally blocks: stop the JVM, remove the inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    w = (SMOKE if args.smoke else WORKLOADS)[args.workload]
    trace = bool(args.trace)
    run_dir = os.path.join(WORK, f"{w.name}-{args.seed}-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    settings = pin_env(run_dir, trace)
    try:
        t0 = time.perf_counter()
        generate(w, data_dir, args.seed)
        gc.collect()
        reset_peak_rss()
        gen_s = time.perf_counter() - t0
        stat0, load0, calib0 = cpu_times(), loadavg(), calib_ms()
        result, details = measure(w, args, data_dir, trace)
        details["conditions"] = conditions(stat0, load0, calib0)
        details["phases_s"]["generate"] = gen_s
        details["settings"] = settings
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


def measure(w: Workload, args, data_dir: str, trace: bool):
    tr = Tracer()
    drawn: list = []  # the centres each k-means|| init returned
    init_kmeans_parallel = kmeans.init_kmeans_parallel

    def keep_drawn(*a, **kw):
        drawn.append(init_kmeans_parallel(*a, **kw))
        return drawn[-1]

    kmeans.init_kmeans_parallel = keep_drawn
    if trace:
        install(tr)

    t0 = time.perf_counter()
    with tr.span("get_spark"):
        spark = get_spark(f"kmbench-{w.name}")
    try:
        with tr.span("first_job"):
            spark.range(1).count()
        with tr.span("load") as load_span:
            pts = load(spark, w, data_dir).cache()
            n = pts.count()
        setup_s = time.perf_counter() - t0
        if n != w.n:
            raise RuntimeError(f"loaded {n} points, expected {w.n}")
        if trace:
            load_span.attrs["partitions"] = pts.rdd.getNumPartitions()

        status = SparkStatus(spark.sparkContext) if trace else None
        cg = [status.codegen()] if trace else []
        outs, walls, traced_walls, untraced_walls = [], [], [], []

        def one_fit(kind: str) -> float:
            t = time.perf_counter()
            n_drawn = len(drawn)
            try:
                with tr.span("fit", kind=kind):
                    centers, history = run_fit(pts, w, FIT_SEED)
                outs.append((centers, history, drawn[-1] if len(drawn) > n_drawn else None))
            except Exception:
                traceback.print_exc()
                outs.append(None)
            dt = time.perf_counter() - t
            if trace:
                cg.append(status.codegen())
            return dt

        first_fit_s = one_fit("cold")
        deadline = time.perf_counter() + args.seconds
        warm = 0
        min_warm = 6 if trace else MIN_WARM  # traced: three fits of each kind
        while time.perf_counter() < deadline or (
            warm < min_warm and time.perf_counter() - t0 < LAST_START_S
        ):
            if trace and warm % 4 in (0, 3):
                # untraced, traced, traced, untraced, ...: the overhead ratio
                # is not skewed by a drift in speed across the run
                tr.unwrap()
                untraced_walls.append(one_fit("untraced"))
                install(tr)
            else:
                dt = one_fit("warm")
                walls.append(dt)
                traced_walls.append(dt)
            warm += 1

        rss = {"python": vm_hwm_mb("self"), "jvm": jvm_hwm_mb()}
        rss["jvm_heap_committed"], rss["jvm_heap_live"] = heap_mb(spark)
        # the JVM outside its heap, plus the heap it keeps live
        peak_rss_mb = (rss["python"] + max(rss["jvm"] - rss["jvm_heap_committed"], 0.0)
                       + rss["jvm_heap_live"])
        if trace:
            status.settle()
            jobs = status.jobs()
            pyio = status.python_io()
            for _, _, attrs in jobs:
                attrs.update(pyio.get(attrs["job_id"], {}))
            tr.attach("spark_job", jobs)
            tr.unwrap()
        t_stop = time.perf_counter()
    finally:
        stop_spark(spark)
        kmeans.init_kmeans_parallel = init_kmeans_parallel
    t_check = time.perf_counter()
    xy = read_points(w, data_dir)
    ok = check(w, xy, FIT_SEED, outs)
    attempted, failed = len(outs), ok.count(False)
    first_ok = next((o for o in outs if o is not None), None)
    details = {
        "workload": w.name,
        "seed": args.seed,
        "fit_walls_s": walls or untraced_walls,
        "fit_samples": len(walls or untraced_walls),
        "fits_ok": ok,
        "peak_rss_mb": rss,
        "phases_s": {
            "setup": setup_s,
            "first_fit": first_fit_s,
            "window": t_stop - deadline + args.seconds,
            "stop": t_check - t_stop,
            "check": time.perf_counter() - t_check,
        },
    }
    if trace:
        metrics = per_layer(tr, w, cg, traced_walls, untraced_walls)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tr.dump(os.path.join(WORK, "traces", f"{w.name}-{args.seed}.json"))
    else:
        fit_s = statistics.median(walls)
        metrics = {
            "setup_s": (setup_s, "s"),
            "first_fit_s": (first_fit_s, "s"),
            "fit_s": (fit_s, "s"),
            "point_iters_per_s": (w.n * w.iters / fit_s, "1/s"),
            "final_wssse": (first_ok[1][-1] if first_ok else 0.0, "d2"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "ok_ratio": ((attempted - failed) / attempted, "ratio"),
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, details


def jvm_hwm_mb() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return vm_hwm_mb(proc.pid) if proc is not None else 0.0


def heap_mb(spark) -> tuple[float, float]:
    """(committed, live) heap of the driver JVM in MB, live being what the
    heap pools hold right after a full GC: the cached input, the program's
    driver state and Spark's own."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory
    live = sum(
        pool.getCollectionUsage().getUsed()
        for pool in mx.getMemoryPoolMXBeans()
        if pool.getType().toString() == "Heap memory" and pool.getCollectionUsage() is not None
    )
    committed = mx.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
    return committed / 2**20, live / 2**20


# ---------------------------------------------------------------------------
# traced run: wrappers and per-layer metrics
# ---------------------------------------------------------------------------

_SPAN_NAMES = [
    "fit", "normalize_partitions", "init_random", "init_kmeans_parallel",
    "nearest_centroid_2d", "lloyd_step_sql", "lloyd_step_nd", "repair_empty",
    "spark_job",
]


def install(tr: Tracer) -> None:
    tr.wrap([kmeans], "normalize_partitions",
            lambda a, kw, out: {"partitions": out.rdd.getNumPartitions()})
    tr.wrap([kmeans], "init_random")
    tr.wrap([kmeans], "init_kmeans_parallel")
    tr.wrap([kmeans, distance], "nearest_centroid_2d",
            lambda a, kw, out: {"centers": len(a[2] if len(a) > 2 else kw["centers"])})
    tr.wrap([kmeans], "lloyd_step_sql")
    tr.wrap([kmeans], "repair_empty",
            lambda a, kw, out: {"empty": sum(c not in a[1] for c, _, _ in a[0])})
    tr.wrap([kmeans_nd], "lloyd_step_nd")


def _pct(values, q: float) -> float:
    return float(np.percentile(values, q)) if values else 0.0


def _med(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def per_layer(tr: Tracer, w: Workload, cg, traced_walls, untraced_walls) -> dict:
    spans = tr.spans
    under = tr.descendants
    idx = {name: [i for i, s in enumerate(spans) if s.name == name] for name in
           _SPAN_NAMES + ["get_spark", "first_job", "load"]}
    kinds = [spans[i].attrs["kind"] for i in idx["fit"]]
    fits = [i for i, k in zip(idx["fit"], kinds) if k == "warm"]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    def jobs_of(i: int) -> list[dict]:
        return [spans[j].attrs for j in under(i, "spark_job")]

    def job_cover(i: int) -> float:
        return union_len([(spans[j].start, spans[j].end) for j in under(i, "spark_job")],
                         spans[i].start, spans[i].end)

    def per_fit(fn) -> float:
        return _med([fn(i) for i in fits])

    def fit_sum(key: str) -> float:
        return per_fit(lambda i: sum(j.get(key, 0) for j in jobs_of(i)))

    def setup_span(name: str) -> float:
        return spans[idx[name][0]].dur if idx[name] else 0.0

    m: dict[str, tuple[float, str]] = {}
    m["session.get_spark_s"] = (setup_span("get_spark"), "s")
    m["session.first_job_s"] = (setup_span("first_job"), "s")
    m["sources.load_cache_s"] = (setup_span("load"), "s")
    m["sources.input_bytes"] = (
        sum(j.get("inputBytes", 0) for i in idx["load"] for j in jobs_of(i)), "B")
    m["sources.partitions"] = (  # the file splits the input scans as
        spans[idx["load"][0]].attrs.get("partitions", 0) if idx["load"] else 0, "count")

    m["kmeans.partitions"] = (per_fit(lambda i: max(
        (spans[j].attrs["partitions"] for j in under(i, "normalize_partitions")), default=0)),
        "count")
    step_name = "lloyd_step_nd" if w.nd else "lloyd_step_sql"

    def prep(i: int) -> float:
        steps = under(i, step_name)
        return min(spans[j].start for j in steps) - spans[i].start if steps else 0.0

    m["kmeans.prep_s"] = (per_fit(prep), "s")
    m["kmeans.empty_clusters"] = (per_fit(  # reseeded by repair_empty
        lambda i: sum(spans[j].attrs["empty"] for j in under(i, "repair_empty"))), "count")
    init_name = {"random": "init_random", "k-means||": "init_kmeans_parallel"}.get(w.init)

    def inits(i: int) -> list[int]:
        return under(i, init_name) if init_name else []

    def candidates(i: int) -> int:
        return max((spans[c].attrs["centers"] for j in inits(i)
                    for c in under(j, "nearest_centroid_2d")), default=0)

    m["kmeans.init_s"] = (per_fit(lambda i: sum(spans[j].dur for j in inits(i))), "s")
    m["kmeans.init_jobs"] = (per_fit(lambda i: sum(len(under(j, "spark_job")) for j in inits(i))),
                             "count")
    m["kmeans.init_candidates"] = (per_fit(candidates), "count")
    m["kmeans.init_cand_per_center"] = (per_fit(candidates) / w.k, "ratio")
    m["distance.build_s"] = (per_fit(
        lambda i: sum(spans[j].dur for j in under(i, "nearest_centroid_2d"))), "s")
    m["distance.literals"] = (per_fit(  # cx, cy and cid per centre
        lambda i: sum(3 * spans[j].attrs["centers"] for j in under(i, "nearest_centroid_2d"))),
        "count")

    for prefix, name in (("kmeans", "lloyd_step_sql"), ("kmeans_nd", "lloyd_step_nd")):
        steps = [j for i in fits for j in under(i, name)]
        durs = [spans[j].dur for j in steps]
        m[f"{prefix}.step_s_p50"] = (_pct(durs, 50), "s")
        m[f"{prefix}.step_s_p90"] = (_pct(durs, 90), "s")
        m[f"{prefix}.step_driver_s"] = (_med([spans[j].dur - job_cover(j) for j in steps]), "s")
        if prefix == "kmeans":
            m["kmeans.step_jobs"] = (_med([len(jobs_of(j)) for j in steps]), "count")
        else:
            def io(key: str) -> float:
                return _med([sum(a.get(key, 0.0) for a in jobs_of(j)) for j in steps])

            m["kmeans_nd.partial_rows"] = (io("rows"), "count")
            m["arrow.bytes_to_python"] = (io("to"), "B")
            m["arrow.bytes_from_python"] = (io("from"), "B")

    m["spark.jobs"] = (per_fit(lambda i: len(jobs_of(i))), "count")
    m["spark.tasks"] = (fit_sum("numCompleteTasks"), "count")
    m["spark.tasks_failed"] = (
        sum(spans[i].attrs.get("numFailedTasks", 0) for i in idx["spark_job"]), "count")
    m["spark.job_wall_s"] = (per_fit(job_cover), "s")
    m["spark.executor_run_s"] = (fit_sum("executorRunTime"), "s")
    m["spark.executor_cpu_s"] = (fit_sum("executorCpuTime"), "s")
    m["spark.gc_s"] = (fit_sum("jvmGcTime"), "s")
    m["spark.shuffle_write_bytes"] = (fit_sum("shuffleWriteBytes"), "B")
    m["spark.result_bytes"] = (fit_sum("resultSize"), "B")
    m["spark.core_util"] = (per_fit(lambda i: sum(j.get("executorRunTime", 0) for j in jobs_of(i))
                                    / max(job_cover(i) * cores, 1e-9)), "ratio")

    # cg[n] is the codegen snapshot before fit n, cg[n + 1] the one after
    def compiles(kind: str) -> tuple[float, float]:
        d = [(cg[n + 1][0] - cg[n][0], cg[n + 1][1]) for n, k in enumerate(kinds) if k == kind]
        return _med([c for c, _ in d]), _med([c * ms for c, ms in d])

    for kind, suffix in (("warm", ""), ("cold", "_first_fit")):
        count, ms = compiles(kind)
        m[f"spark.codegen_compiles{suffix}"] = (count, "count")
        m[f"spark.codegen_compile_ms{suffix}"] = (ms, "ms")

    for name in _SPAN_NAMES:
        m[f"self_s.{name}"] = (per_fit(
            lambda i: tr.self_time(i) if name == "fit"
            else sum(tr.self_time(j) for j in under(i, name))), "s")
    for name in ("get_spark", "first_job", "load"):
        m[f"self_s.{name}"] = (tr.self_time(idx[name][0]) if idx[name] else 0.0, "s")

    m["trace.fit_s"] = (_med(traced_walls), "s")
    m["trace.overhead"] = (_med(traced_walls) / _med(untraced_walls), "ratio")
    return m


if __name__ == "__main__":
    sys.exit(main())
