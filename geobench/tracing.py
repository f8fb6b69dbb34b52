"""Tracing for the traced run: layer spans, Spark event-log parsing and the
Python UDF profiler.

* ``Tracer.layer(name)`` wraps one layer call.  When tracing is on it sets
  the Spark job description to the layer tag, so every job the call issues
  is attributed to that layer in the event log, and records the span's wall
  time.  When tracing is off it does nothing.
* ``parse_event_log(path)`` reads an uncompressed, non-rolling Spark event
  log (JSON lines, stdlib only) into per-tag job/stage/task figures.
* ``udf_profile(spark, dir)`` sums the perf profiler's per-function cumulative
  seconds across all profiled UDFs.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import pstats
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark=None, on: bool = False):
        self.spark = spark
        self.on = on
        self.rep: int | None = None  # tags become "<layer>#<rep>" when set
        self.spans: list[tuple[str, float, float]] = []  # (layer, start, end)

    @contextlib.contextmanager
    def layer(self, name: str):
        if not self.on:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobDescription(name if self.rep is None else f"{name}#{self.rep}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter()))
            sc.setJobDescription(None)

    def span_seconds(self) -> dict:
        out = defaultdict(float)
        for tag, t0, t1 in self.spans:
            out[tag] += t1 - t0
        return dict(out)


def event_log_conf(log_dir: str) -> dict:
    """Spark conf for a plain-JSON event log stdlib can parse (zstandard is
    not available to read the default compressed one)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def find_event_log(log_dir: str, app_id: str) -> str | None:
    hits = glob.glob(os.path.join(log_dir, app_id + "*"))
    return hits[0] if hits else None


def parse_event_log(path: str) -> dict:
    """Per job-description tag: jobs, stages (tasks, max/median task ms,
    shuffle write bytes, executor run ms, GC ms) and totals."""
    stage_tag: dict[int, str] = {}
    tags: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "stages": {}})
    task_ms: dict[int, list] = defaultdict(list)
    stage_acc: dict[int, dict] = defaultdict(lambda: {"run_ms": 0.0, "gc_ms": 0.0, "shuffle_write": 0})
    stage_ops: dict[int, list] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tag = props.get("spark.job.description") or "untagged"
                tags[tag]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_tag[sid] = tag
            elif kind == "SparkListenerStageCompleted":
                info = ev.get("Stage Info") or {}
                ops = set()
                for rdd in info.get("RDD Info", []):
                    try:
                        ops.add(json.loads(rdd.get("Scope") or "{}").get("name", ""))
                    except ValueError:
                        pass
                stage_ops[info.get("Stage ID")] = sorted(o for o in ops if o)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                task_ms[sid].append(float(info.get("Finish Time", 0) - info.get("Launch Time", 0)))
                acc = stage_acc[sid]
                acc["run_ms"] += float(m.get("Executor Run Time", 0))
                acc["gc_ms"] += float(m.get("JVM GC Time", 0))
                acc["shuffle_write"] += int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
    for sid, ms in task_ms.items():
        tag = stage_tag.get(sid, "untagged")
        acc = stage_acc[sid]
        tags[tag]["stages"][sid] = {
            "tasks": len(ms),
            "task_ms_max": max(ms),
            "task_ms_p50": statistics.median(ms),
            "run_ms": acc["run_ms"],
            "gc_ms": acc["gc_ms"],
            "shuffle_write_bytes": acc["shuffle_write"],
            "operators": stage_ops.get(sid, []),
        }
    for t in tags.values():
        st = t["stages"].values()
        t["tasks"] = sum(s["tasks"] for s in st)
        t["run_ms"] = sum(s["run_ms"] for s in st)
        t["gc_ms"] = sum(s["gc_ms"] for s in st)
        t["shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in st)
    return dict(tags)


def cogroup_stage(tag_info: dict | None) -> dict | None:
    """The stage of a tag that runs a Python cogroup (an operator scope
    named ``FlatMapCoGroupsIn…``), the heaviest one if several; without
    one, the stage with the most executor run time."""
    if not tag_info or not tag_info["stages"]:
        return None
    stages = list(tag_info["stages"].values())
    cog = [s for s in stages if any("CoGroup" in o for o in s["operators"])]
    return max(cog or stages, key=lambda s: s["run_ms"])


def udf_profile(spark, dump_dir: str) -> dict:
    """Function name → cumulative seconds over every profiled UDF
    (``spark.sql.pyspark.udf.profiler=perf``), read back from the pstats
    files ``spark.profile.dump`` writes.  Functions of the same name in
    several UDFs are summed."""
    spark.profile.dump(dump_dir, type="perf")
    out: dict[str, float] = defaultdict(float)
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        per_udf: dict[str, float] = defaultdict(float)
        for (_file, _line, fn), (_cc, _nc, _tt, ct, _callers) in pstats.Stats(path).stats.items():
            per_udf[fn] = max(per_udf[fn], ct)
        for fn, ct in per_udf.items():
            out[fn] += ct
    return dict(out)


def top_functions(prof: dict, n: int = 12) -> list:
    items = [(fn, s) for fn, s in prof.items() if fn != "<module>" and not fn.startswith("<built-in")]
    return sorted(items, key=lambda kv: -kv[1])[:n]
