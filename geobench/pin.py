"""Pin (or verify) the per-seed output digests the benchmark checks.

    python3 geobench/pin.py --workload geostat_planar --seeds 0-31            # pin at local[nproc]
    python3 geobench/pin.py --workload geostat_planar --seeds 0-7 --cores 1   # verify at local[1]

A digest is pinned only when two reps of the seed agree; verifying compares
fresh reps against ``pins.json`` and exits 1 on any mismatch.  Run from the
root of a checkout.  ``--workload`` also takes a probe (``webtext_ann``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.getcwd())
sys.path.insert(0, HERE)

import run as R  # noqa: E402
import tracing as TR  # noqa: E402
import workloads as W  # noqa: E402


def _seeds(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 0-31")
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 1)
    args = ap.parse_args()

    if args.workload in W.WORKLOADS:
        setup, rep, check, teardown = W.WORKLOADS[args.workload]
    else:
        _, setup, rep, check, teardown = W.PROBES[args.workload]
    verify = args.cores != (os.cpu_count() or 1)
    path = os.path.join(HERE, "pins.json")
    pins = json.load(open(path)) if os.path.exists(path) else {}
    mine = pins.setdefault(args.workload, {})

    R.prepare_out()
    spark = R.start_session(args.cores, shuffle_partitions=os.cpu_count() or 1)
    off = TR.Tracer()
    bad = 0
    for seed in _seeds(args.seeds):
        st = setup(spark, seed, W.SIZES[args.workload]["full"])
        outs = [rep(spark, st, off) for _ in range(1 if verify else 2)]
        errs = check(st, outs[0])
        digs = [W.digest(o) for o in outs]
        if teardown:
            teardown(st)
        if errs or not all(W.same_digest(d, digs[0]) for d in digs):
            print(f"seed {seed}: NOT pinned: checks {errs}, reps agree {len(set(map(json.dumps, digs))) == 1}")
            bad += 1
            continue
        if verify:
            ok = str(seed) in mine and W.same_digest(digs[0], mine[str(seed)])
            bad += not ok
            print(f"seed {seed}: local[{args.cores}] {'matches' if ok else 'DIFFERS FROM'} the pin")
        else:
            mine[str(seed)] = digs[0]
            print(f"seed {seed}: pinned")
        spark.sparkContext._jvm.System.gc()
    R.stop_jvm(spark, set())
    if not verify:
        with open(path, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
