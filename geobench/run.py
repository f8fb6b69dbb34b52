"""geobench: one workload, one seed, one fresh JVM, closed loop.

    python3 geobench/run.py --workload geostat_planar --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The
line before it (``geobench-report: {...}``) holds the diagnostics: every
rep time, the warm-rep slope, host steal share, check results and, for a
traced run, the layer report.  See geobench/README.md.
"""

from __future__ import annotations

import os
import time

_T0 = time.perf_counter()


def _process_age() -> float:
    """Seconds since this process started (Linux /proc), so set-up time
    covers interpreter start too."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


_AGE0 = _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(ROOT, ".geobench_out")

WARMUP_REPS = 3  # warm reps discarded after the cold rep (see README: slope)
MIN_WINDOW_REPS = 3
TRACED_REPS = 3  # traced reps, each after one plain rep (trace.overhead_s)


def since_start() -> float:
    return _AGE0 + time.perf_counter() - _T0


# --------------------------------------------------------------------------
# processes: RSS sampling, steal share, JVM shutdown
# --------------------------------------------------------------------------

def _children() -> dict:
    kids: dict[int, list] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root_pid: int) -> list:
    kids, out, todo = _children(), [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of the driver JVM and every process under it (the
    PySpark daemon and its workers), sampled every 100 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.jvm_pid = None
        self.peak = 0
        self.seen: set[int] = set()
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.wait(0.1):
            if self.jvm_pid is None:
                continue
            pids = _tree(self.jvm_pid)
            self.seen.update(pids)
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))

    def stop(self):
        self._stop_evt.set()
        self.join()


def cpu_times() -> list:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(a: list, b: list) -> float:
    d = [y - x for x, y in zip(a, b)]
    return d[7] / max(sum(d[:8]), 1) if len(d) > 7 else 0.0


def heap_gb() -> int:
    """Driver heap from the host's MemTotal: a quarter of it, 1..16 GB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return max(1, min(16, int(kb / 1024 / 1024 / 4)))


def prepare_out() -> None:
    """Keep every file Spark and its workers write inside the checkout."""
    shutil.rmtree(OUT, ignore_errors=True)
    for d in ("local", "tmp", "eventlog", "warehouse", "profile"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "local")
    os.environ["TMPDIR"] = os.path.join(OUT, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(cores: int, extra: dict | None = None, shuffle_partitions: int | None = None):
    from gstools_core_spark.session import get_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(OUT, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
    }
    conf.update(extra or {})
    spark = get_session(
        "geobench", cores=cores, shuffle_partitions=shuffle_partitions,
        memory_gb=heap_gb(), extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """First Python-worker job: forks the daemon, imports pandas/pyarrow."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n * 4, 1, n).mapInPandas(lambda it: (p for p in it), "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def stop_jvm(spark, seen_pids: set) -> None:
    """Stop the session, then the gateway JVM, and wait for every process
    that ran under it (the PySpark daemon and workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    alive = [p for p in seen_pids if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# --------------------------------------------------------------------------
# the closed loop
# --------------------------------------------------------------------------

def slope_share(times: list) -> float:
    """Least-squares slope of rep time over rep index, per rep, as a share
    of the median (negative: still speeding up)."""
    n = len(times)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, statistics.fmean(times)
    b = sum((i - mx) * (t - my) for i, t in enumerate(times)) / sum((i - mx) ** 2 for i in range(n))
    return b / statistics.median(times)


class Loop:
    """Runs reps back to back, checks every output, counts failures."""

    def __init__(self, spark, W, st, pins: dict | None):
        self.spark, self.W, self.st, self.pins = spark, W, st, pins
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self.first = None

    def rep(self, fn, check, tr):
        t0 = time.perf_counter()
        try:
            out = fn(self.spark, self.st, tr)
        except Exception as e:  # a rep that raises is a failed rep
            out, errs = None, [f"{type(e).__name__}: {e}"]
        else:
            errs = check(self.st, out)
        dt = time.perf_counter() - t0
        self.attempted += 1
        if out is not None:
            d = self.W.digest(out)
            if self.first is None:
                self.first = d
                pin = (self.pins or {}).get(str(self.st["seed"]))
                if pin is not None and not self.W.same_digest(d, pin):
                    errs.append("output differs from the digest pinned for this seed")
            elif not self.W.same_digest(d, self.first):
                errs.append("output differs from the first rep's")
        if errs:
            self.failed += 1
            self.errors.append(errs)
        self.spark.sparkContext._jvm.System.gc()
        return dt, out


def run(args) -> dict:
    import tracing as TR
    import workloads as W

    cores = os.cpu_count() or 1
    pins_path = os.path.join(HERE, "pins.json")
    pins_all = json.load(open(pins_path)) if os.path.exists(pins_path) else {}
    setup_fn, rep_fn, check_fn, _ = W.WORKLOADS[args.workload]
    size = W.SIZES[args.workload]["full"]

    sampler = RssSampler()
    sampler.start()
    cpu0 = cpu_times()
    extra = TR.event_log_conf(os.path.join(OUT, "eventlog")) if args.trace else {}
    report: dict = {"workload": args.workload, "seed": args.seed, "cores": cores, "trace": args.trace}

    t = since_start()
    spark = start_session(cores, extra)
    from pyspark import SparkContext

    sampler.jvm_pid = SparkContext._gateway.proc.pid
    t_session = since_start()
    warm_workers(spark)
    t_workers = since_start()
    st = setup_fn(spark, args.seed, size)
    setup_s = since_start()
    report["setup_phases_s"] = {
        "interpreter_and_imports": t, "session": t_session - t,
        "worker_warm": t_workers - t_session, "inputs": setup_s - t_workers,
    }
    report["rows"] = st["rows"]

    loop = Loop(spark, W, st, pins_all.get(args.workload))
    off = TR.Tracer()
    cold_s, _ = loop.rep(rep_fn, check_fn, off)
    warmup = [loop.rep(rep_fn, check_fn, off)[0] for _ in range(WARMUP_REPS)]
    report["rep_s"] = {"cold": cold_s, "warmup": warmup}
    if args.trace:
        metrics = traced(spark, args, W, TR, loop, st, report, sampler, cores, pins_all)
    else:
        window: list = []
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end or len(window) < MIN_WINDOW_REPS:
            window.append(loop.rep(rep_fn, check_fn, off)[0])
        report["rep_s"]["window"] = window
        report["warm_n"] = len(window)
        report["warm_slope_per_rep"] = slope_share(window)
        stop_jvm(spark, sampler.seen)
    sampler.stop()
    report["steal_share"] = steal_share(cpu0, cpu_times())
    report["errors"] = loop.errors[:5]
    if not args.trace:
        values = {
            "setup_s": setup_s,
            "cold_s": cold_s,
            "warm_s.p50": statistics.median(window),
            "peak_rss_mb": sampler.peak / 2**20,
        }
        metrics = {name: (values[name], unit) for name, unit, _ in END_TO_END}
    report["wall_s"] = since_start()
    return {"report": report, "metrics": metrics, "attempted": loop.attempted, "failed": loop.failed}


def traced(spark, args, W, TR, loop, st, report, sampler, cores, pins_all) -> dict:
    """Plain and traced reps alternate (so the warm-up slope hits both
    alike), then the layer probes, the kernel table and the 1→4 core
    ratio; returns the per-layer metrics."""
    import kernel_timings as KT

    from gstools_core_spark.operators.field import summate_field

    _, rep_fn, check_fn, _ = W.WORKLOADS[args.workload]
    off = TR.Tracer()
    tr = TR.Tracer(spark, on=True)
    spark.profile.clear()
    plain, rep_wall, spans, extra_layer = [], [], [], {}
    for i in range(TRACED_REPS):
        plain.append(loop.rep(rep_fn, check_fn, off)[0])
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        tr.spans = []
        tr.rep = i
        dt, out = loop.rep(rep_fn, check_fn, tr)
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        rep_wall.append(dt)
        spans.append(tr.span_seconds())
        extra_layer = (out or {}).get("layer", extra_layer)
    prof = TR.udf_profile(spark, os.path.join(OUT, "profile"))
    tr.rep = None
    plain_p50 = statistics.median(plain)
    report["rep_s"].update({"plain": plain, "traced": rep_wall})

    m: dict = {}

    def span(tag):
        return statistics.median(s.get(tag, 0.0) for s in spans)

    # probes that run only here
    probe_spans: dict = {}
    kern = KT.time_kernels()
    for probe, (home, p_setup, p_rep, p_check, p_teardown) in W.PROBES.items():
        if home != args.workload:
            continue
        p_st = p_setup(spark, args.seed, W.SIZES[probe]["full"])
        p_loop = Loop(spark, W, p_st, pins_all.get(probe))
        p_tr = TR.Tracer(spark, on=True)
        p_loop.rep(p_rep, p_check, off)  # cold
        _, p_out = p_loop.rep(p_rep, p_check, p_tr)
        probe_spans.update(p_tr.span_seconds())
        loop.attempted += p_loop.attempted
        loop.failed += p_loop.failed
        loop.errors += p_loop.errors
        if probe == "webtext_ann" and p_out is not None:
            f = p_out["floats"]
            m["similarity.ivf_recall_at_10"] = f["ivf_recall_at_10"]
            m["similarity.lsh_recall_at_10"] = f["lsh_recall_at_10"]
            report["ivf"] = {"clusters": p_st["ivf_clusters"], "assign_path": p_st["ivf_assign_path"],
                             "base_vectors": p_st["n_base"]}
        if p_teardown:
            p_teardown(p_st)
    if args.workload == "geostat_planar":
        modes, z1, z2 = W.spectral_modes(W.Gaussian(1.0, 1.0), args.seed, W.PLANAR_MODES)
        times = []
        for i in range(2):
            with tr.layer("field.summate"):
                t0 = time.perf_counter()
                summate_field(st["pts"], modes, z1, z2).write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
        m["field.summate_s"] = times[-1]

    app_id = spark.sparkContext.applicationId
    spark.stop()  # flushes and closes the event log
    ev = TR.parse_event_log(TR.find_event_log(os.path.join(OUT, "eventlog"), app_id))
    eff = 0.0
    if args.workload == "geostat_planar":
        spark, eff = one_core_ratio(args, W, TR, plain_p50, report)
    stop_jvm(spark, sampler.seen)

    # ---- per-layer metrics
    rep_tags = {t: v for t, v in ev.items() if "#" in t}
    n = TRACED_REPS

    def tagsum(key, prefix=None):
        return sum(v[key] for t, v in rep_tags.items() if prefix is None or t.split("#")[0] == prefix)

    m["session.start_s"] = report["setup_phases_s"]["session"]
    m["session.worker_warm_s"] = report["setup_phases_s"]["worker_warm"]
    m["pages.s"] = span("pages")
    m["cells.tiles_s"] = span("cells")
    m["cells.max_cell_share"] = extra_layer.get("cells.max_cell_share", 0.0)
    m["variogram.s"] = span("variogram")
    m["variogram.pairs"] = float(sum(loop.first["exact"].get("counts", []))) if loop.first else 0.0
    m["fit.s"] = span("fit")
    m.setdefault("field.summate_s", 0.0)
    m["kriging.call_s"] = span("kriging.call")
    m["kriging.call_jobs"] = tagsum("jobs", "kriging.call") / n
    m["kriging.exec_s"] = span("kriging.exec")
    cog = [TR.cogroup_stage(ev.get(f"kriging.exec#{i}")) for i in range(n)]
    cog = [c for c in cog if c]
    m["kriging.cogroup.tasks"] = statistics.median(c["tasks"] for c in cog) if cog else 0.0
    m["kriging.cogroup.task_ms.max"] = statistics.median(c["task_ms_max"] for c in cog) if cog else 0.0
    m["kriging.cogroup.task_ms.p50"] = statistics.median(c["task_ms_p50"] for c in cog) if cog else 0.0
    ex = [(ev.get(f"kriging.exec#{i}") or {}).get("run_ms", 0.0) / max(s.get("kriging.exec", 0.0) * 1000 * cores, 1e-9)
          for i, s in enumerate(spans)]
    m["kriging.core_util"] = statistics.median(ex) if any(ex) else 0.0
    for fn in UDF_FUNCS:
        m[f"udf.{fn}.s"] = prof.get(fn, 0.0) / n
    for name in KERNELS:
        m[f"kernels.{name}_s"] = kern[name]["s"]
    m["spatial.raster_s"] = span("spatial")
    m["similarity.ivf_s"] = probe_spans.get("similarity.ivf", 0.0)
    m["similarity.lsh_s"] = probe_spans.get("similarity.lsh", 0.0)
    m.setdefault("similarity.ivf_recall_at_10", 0.0)
    m.setdefault("similarity.lsh_recall_at_10", 0.0)
    kern_of = {"variogram_unstructured": "variogram_unstructured", "variogram_directional": "variogram_directional",
               "summate": "summate_2d", "calc_field_krige_and_variance": "krige_error"}
    for fn in API_FNS:
        s = probe_spans.get(f"api.{fn}", 0.0)
        m[f"api.{fn}_s"] = s
        m[f"api.{fn}.overhead_x"] = s / kern[kern_of[fn]]["s"] if s else 0.0
    m["spark.jobs"] = tagsum("jobs") / n
    m["spark.tasks"] = tagsum("tasks") / n
    m["spark.shuffle_write_mb"] = tagsum("shuffle_write_bytes") / n / 2**20
    m["spark.gc_s"] = tagsum("gc_ms") / n / 1000
    m["spark.core_util"] = tagsum("run_ms") / (sum(rep_wall) * 1000 * cores)
    m["pipeline.eff_1to4"] = eff
    m["trace.overhead_s"] = statistics.median(rep_wall) - plain_p50

    report["layers"] = layer_report(ev, spans, kern, prof, TR)
    return {name: (m[name], unit) for name, unit, _ in PER_LAYER}


UDF_FUNCS = ("haversine_dist_coslat", "argsort", "stable_solve", "stable_matmul", "summate", "solve")
KERNELS = (
    "summate_2d", "summate_incompr_2d", "summate_fourier_2d", "summate_3d", "summate_incompr_3d",
    "krige", "krige_error", "variogram_structured", "variogram_ma_structured",
    "variogram_unstructured", "variogram_directional",
)
API_FNS = ("variogram_unstructured", "variogram_directional", "summate", "calc_field_krige_and_variance")

END_TO_END = (  # name, unit, better
    ("setup_s", "s", "lower"),
    ("cold_s", "s", "lower"),
    ("warm_s.p50", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
)
# Per-layer metrics of a traced run, in report order: name, unit, better.
# A layer the workload does not exercise reports 0.
PER_LAYER = (
    [
        ("session.start_s", "s", "lower"),
        ("session.worker_warm_s", "s", "lower"),
        ("pages.s", "s", "lower"),
        ("cells.tiles_s", "s", "lower"),
        ("cells.max_cell_share", "share", "lower"),
        ("variogram.s", "s", "lower"),
        ("variogram.pairs", "count", "higher"),
        ("fit.s", "s", "lower"),
        ("field.summate_s", "s", "lower"),
        ("kriging.call_s", "s", "lower"),
        ("kriging.call_jobs", "count", "lower"),
        ("kriging.exec_s", "s", "lower"),
        ("kriging.cogroup.tasks", "count", "higher"),
        ("kriging.cogroup.task_ms.max", "ms", "lower"),
        ("kriging.cogroup.task_ms.p50", "ms", "lower"),
        ("kriging.core_util", "share", "higher"),
    ]
    + [(f"udf.{fn}.s", "s", "lower") for fn in UDF_FUNCS]
    + [(f"kernels.{k}_s", "s", "lower") for k in KERNELS]
    + [
        ("spatial.raster_s", "s", "lower"),
        ("similarity.ivf_s", "s", "lower"),
        ("similarity.lsh_s", "s", "lower"),
        ("similarity.ivf_recall_at_10", "share", "higher"),
        ("similarity.lsh_recall_at_10", "share", "higher"),
    ]
    + [(f"api.{fn}_s", "s", "lower") for fn in API_FNS]
    + [(f"api.{fn}.overhead_x", "x", "lower") for fn in API_FNS]
    + [
        ("spark.jobs", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.shuffle_write_mb", "MB", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("spark.core_util", "share", "higher"),
        ("pipeline.eff_1to4", "ratio", "higher"),
        ("trace.overhead_s", "s", "lower"),
    ]
)


def layer_report(ev: dict, spans: list, kern: dict, prof: dict, TR) -> dict:
    """Per layer tag (over the traced reps, and per probe): jobs, and per
    stage tasks, max/median task ms, shuffle bytes, GC; plus the UDF
    profiler's top functions and the kernel table."""
    layers = {}
    for tag, v in sorted(ev.items()):
        layers[tag] = {
            "jobs": v["jobs"], "tasks": v["tasks"], "shuffle_write_bytes": v["shuffle_write_bytes"],
            "gc_ms": v["gc_ms"], "run_ms": v["run_ms"],
            "stages": [dict(s, stage=sid) for sid, s in sorted(v["stages"].items())],
        }
        base = tag.split("#")[0]
        if "#" in tag:
            i = int(tag.split("#")[1])
            wall = spans[i].get(base, 0.0) if i < len(spans) else 0.0
            layers[tag]["wall_s"] = wall
    return {
        "tags": layers,
        "udf_top_functions_s": TR.top_functions(prof),
        "kernels": kern,
    }


def one_core_ratio(args, W, TR, p50_4, report):
    """Warm rep at local[1] ÷ (cores × warm rep at local[cores]): the
    north rule's N→4N efficiency on the same input and partition count."""
    cores = os.cpu_count() or 1
    spark = start_session(1, shuffle_partitions=cores)
    warm_workers(spark)
    setup_fn, rep_fn, _, _ = W.WORKLOADS[args.workload]
    st = setup_fn(spark, args.seed, W.SIZES[args.workload]["full"])
    off = TR.Tracer()
    times = []
    for _ in range(2):
        t0 = time.perf_counter()
        rep_fn(spark, st, off)
        times.append(time.perf_counter() - t0)
    report["one_core_rep_s"] = times
    return spark, times[-1] / (cores * p50_4)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="also write the diagnostics report to this JSON file")
    args = ap.parse_args(argv)
    args.seed %= 1 << 62  # any integer seed; 0 <= seed < 2**62 is used as given

    if not os.path.isdir(os.path.join(ROOT, "gstools_core_spark")):
        print("geobench: the engine package gstools_core_spark is not in this checkout", file=sys.stderr)
        return 2
    # one BLAS thread in this process as in the workers (the session pins
    # theirs), set before numpy loads: the kernel table times one core
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"geobench: unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    prepare_out()
    res = run(args)
    metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in res["metrics"].items()}
    rep = res["report"]
    if args.report:
        with open(args.report, "w") as fh:
            json.dump(rep, fh, indent=1, default=str)
    print("geobench-report: " + json.dumps(rep, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
