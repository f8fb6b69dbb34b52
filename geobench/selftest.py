"""The benchmark's own self-test, at tiny sizes (about three minutes).

    python3 geobench/selftest.py

Run from the root of a checkout.  It covers every workload and probe, every
output check (each must pass on real output and fail on a corrupted copy),
the digest comparison and the event-log parser (on a hand-written log and
on the log of a real tagged Spark job).  Exits 0 when everything holds.
"""

from __future__ import annotations

import copy
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.getcwd())
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import run as R  # noqa: E402
import tracing as TR  # noqa: E402
import workloads as W  # noqa: E402

FAILS: list = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILS.append(what)


def _dup_rank(rows: list) -> None:
    """Give the second result of some query the first one's rank."""
    by_q: dict = {}
    for i, r in enumerate(rows):
        by_q.setdefault(r[0], []).append(i)
    i, j = next(ix for ix in by_q.values() if len(ix) > 1)[:2]
    rows[j] = rows[j][:3] + (rows[i][3],)


# one corruption per check: (description, mutate(out) in place)
CORRUPT = {
    "geostat_planar": [
        ("a target row lost", lambda o: o["exact"].__setitem__("rows", o["exact"]["rows"] - 1)),
        ("negative kriging variance", lambda o: o["inv"].__setitem__("min_var", -1e-3)),
        ("a non-finite field value", lambda o: o["inv"].__setitem__("finite", o["inv"]["finite"] - 1)),
        ("a raster tile point lost", lambda o: o["exact"]["tiles"].__setitem__(0, o["exact"]["tiles"][0][:2] + (0,))),
        ("an empty variogram bin", lambda o: o["exact"]["counts"].__setitem__(0, 0)),
    ],
    "pages_sphere": [
        ("a duplicated target id", lambda o: o["exact"].__setitem__("ids", o["exact"]["ids"] - 1)),
        ("negative kriging variance", lambda o: o["inv"].__setitem__("min_var", -1e-3)),
        ("a NaN kriging mean", lambda o: o["inv"].__setitem__("finite", 0)),
        ("tile counts short", lambda o: o["inv"].__setitem__("cells_total", o["inv"]["cells_total"] - 1)),
    ],
    "api_dropin": [
        ("a pair count off by one", lambda o: o["res"].__setitem__(
            "variogram_unstructured", (o["res"]["variogram_unstructured"][0], o["res"]["variogram_unstructured"][1] + 1))),
        ("gamma off by 1e-6", lambda o: o["res"].__setitem__(
            "variogram_directional", (o["res"]["variogram_directional"][0] * (1 + 1e-6), o["res"]["variogram_directional"][1]))),
        ("field off by 1e-6", lambda o: o["res"].__setitem__("summate", o["res"]["summate"] + 1e-6)),
        ("kriging error off by 1e-6", lambda o: o["res"].__setitem__(
            "calc_field_krige_and_variance",
            (o["res"]["calc_field_krige_and_variance"][0], o["res"]["calc_field_krige_and_variance"][1] * (1 + 1e-6)))),
    ],
    "webtext_ann": [
        ("a wrong similarity", lambda o: o["rows"]["ivf"].__setitem__(0, o["rows"]["ivf"][0][:2] + (0.123, o["rows"]["ivf"][0][3]))),
        ("a duplicated rank", lambda o: _dup_rank(o["rows"]["lsh"])),
        ("zero recall", lambda o: o["floats"].__setitem__("lsh_recall_at_10", 0.0)),
    ],
}


def check_workload(spark, name: str, setup, rep, check, teardown) -> None:
    st = setup(spark, 3, W.SIZES[name]["tiny"])
    off = TR.Tracer()
    a, b = rep(spark, st, off), rep(spark, st, off)
    expect(check(st, a) == [], f"{name}: real output passes its checks {check(st, a)}")
    expect(W.same_digest(W.digest(a), W.digest(b)), f"{name}: two reps give the same digest")
    for what, mutate in CORRUPT[name]:
        bad = copy.deepcopy(a)
        mutate(bad)
        expect(check(st, bad) != [], f"{name}: check catches {what}")
    fl = W.digest(a)["floats"]
    if fl:
        key = sorted(fl)[0]
        moved = copy.deepcopy(W.digest(a))
        moved["floats"][key] = (np.asarray(moved["floats"][key]) * (1 + 1e-4) + 1e-4).tolist()
        expect(not W.same_digest(W.digest(a), moved), f"{name}: digest catches a moved float ({key})")
    if teardown:
        teardown(st)


SYNTHETIC_LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.job.description": "kriging.exec#0"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Launch Time": 100, "Finish Time": 400},
     "Task Metrics": {"Executor Run Time": 290, "JVM GC Time": 10,
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 0}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Launch Time": 0, "Finish Time": 50},
     "Task Metrics": {"Executor Run Time": 45, "JVM GC Time": 0,
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 2048}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Launch Time": 0, "Finish Time": 30},
     "Task Metrics": {"Executor Run Time": 25, "JVM GC Time": 0,
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024}}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "RDD Info": [
        {"Scope": json.dumps({"id": "3", "name": "FlatMapCoGroupsInArrow"})}, {"Scope": json.dumps({"id": "4", "name": "Exchange"})}]}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {"Launch Time": 0, "Finish Time": 5},
     "Task Metrics": {"Executor Run Time": 5, "JVM GC Time": 0}},
]


def check_parser(spark) -> None:
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False, dir=R.OUT) as fh:
        fh.write("\n".join(json.dumps(e) for e in SYNTHETIC_LOG) + "\n")
    ev = TR.parse_event_log(fh.name)
    k = ev["kriging.exec#0"]
    expect(k["jobs"] == 1 and k["tasks"] == 3, "parser: jobs and tasks per tag")
    expect(k["shuffle_write_bytes"] == 3072 and k["gc_ms"] == 10 and k["run_ms"] == 360, "parser: shuffle, GC, run time")
    expect(TR.cogroup_stage(k)["tasks"] == 2, "parser: the cogroup stage is found by its operator scope")
    k["stages"][0]["operators"] = []
    top = TR.cogroup_stage(k)
    expect(top["tasks"] == 1 and top["task_ms_max"] == 300, "parser: without a cogroup scope, the heaviest stage")
    expect(k["stages"][0]["task_ms_p50"] == 40.0, "parser: median task ms")
    expect(ev["untagged"]["jobs"] == 1, "parser: jobs without a description are untagged")

    # a real log: tag one job, stop the session, parse what Spark wrote
    app_id = spark.sparkContext.applicationId
    tr = TR.Tracer(spark, on=True)
    tr.rep = 0
    with tr.layer("selftest"):
        spark.range(0, 1000, 1, 4).selectExpr("id % 7 as k").groupBy("k").count().collect()
    spark.stop()
    ev = TR.parse_event_log(TR.find_event_log(os.path.join(R.OUT, "eventlog"), app_id))
    t = ev.get("selftest#0", {})
    expect(t.get("jobs", 0) >= 1 and t.get("tasks", 0) >= 4, f"parser: real event log has the tagged job {t.get('jobs')}")
    expect(t.get("shuffle_write_bytes", 0) > 0, "parser: real event log has shuffle bytes")


def check_benchmark_json() -> None:
    """BENCHMARK.json lists exactly the metrics run.py prints."""
    path = os.path.join(os.getcwd(), "BENCHMARK.json")
    if not os.path.exists(path):
        expect(False, "BENCHMARK.json exists at the checkout root")
        return
    b = json.load(open(path))
    expect([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]] == list(R.END_TO_END),
           "BENCHMARK.json end_to_end matches run.END_TO_END")
    expect([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == list(R.PER_LAYER),
           "BENCHMARK.json per_layer matches run.PER_LAYER")
    expect(sorted(w["name"] for w in b["workloads"]) == sorted(W.WORKLOADS), "BENCHMARK.json workloads match")


def main() -> int:
    check_benchmark_json()
    R.prepare_out()
    spark = R.start_session(2, TR.event_log_conf(os.path.join(R.OUT, "eventlog")))
    R.warm_workers(spark)
    for name, (setup, rep, check, teardown) in W.WORKLOADS.items():
        check_workload(spark, name, setup, rep, check, teardown)
    for name, (_, setup, rep, check, teardown) in W.PROBES.items():
        check_workload(spark, name, setup, rep, check, teardown)
    check_parser(spark)
    R.stop_jvm(spark, set())
    print("selftest", "FAILED: " + "; ".join(FAILS) if FAILS else "ok")
    return 1 if FAILS else 0


if __name__ == "__main__":
    sys.exit(main())
