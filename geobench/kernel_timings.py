"""Spark-free timings of the numpy kernels at the reference's criterion
shapes (BASELINE.md), with flop and byte counts.

The counts are *computed* from the shapes by the formulas below, not read
from hardware counters.  ``flop`` counts multiplies, adds and subtracts;
``trans`` counts transcendental calls (cos, sin, sqrt, exp, arctan);
``bytes`` is the float64 input plus output the kernel must read and write
once.  Each timing is the median of a few calls in this process, with one
BLAS thread (run.py pins it before numpy loads), as in a Python worker.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from gstools_core_spark import kernels as K

N_POS, N_MODES = 10_000, 1_000  # field summation
N_COND, N_TGT = 500, 10_000  # kriging
NX, NY = 600, 500  # structured variogram
N_PTS, N_BINS, N_DIRS = 2_000, 29, 2  # unstructured / directional variogram


def _cases(rng) -> dict:
    """name → (call, flop, trans, bytes)."""
    out = {}
    for d in (2, 3):
        k = rng.normal(size=(d, N_MODES))
        z1, z2 = rng.normal(size=N_MODES), rng.normal(size=N_MODES)
        pos = rng.uniform(0, 100, size=(d, N_POS))
        nm = N_POS * N_MODES
        in_bytes = 8 * (k.size + 2 * N_MODES + pos.size)
        out[f"summate_{d}d"] = (
            lambda k=k, z1=z1, z2=z2, pos=pos: K.summate(k, z1, z2, pos),
            (2 * d - 1 + 4) * nm, 2 * nm, in_bytes + 8 * N_POS,
        )
        out[f"summate_incompr_{d}d"] = (
            lambda k=k, z1=z1, z2=z2, pos=pos: K.summate_incompr(k, z1, z2, pos),
            (2 * d - 1 + 3 + 2 * d) * nm, 2 * nm, in_bytes + 8 * d * N_POS,
        )
        if d == 2:
            sf = np.abs(rng.normal(size=N_MODES))
            out["summate_fourier_2d"] = (
                lambda sf=sf, k=k, z1=z1, z2=z2, pos=pos: K.summate_fourier(sf, k, z1, z2, pos),
                (2 * d - 1 + 4) * nm, 2 * nm, in_bytes + 8 * (N_MODES + N_POS),
            )
    a = rng.normal(size=(N_COND, N_COND))
    mat, vecs, cond = a @ a.T, rng.normal(size=(N_COND, N_TGT)), rng.normal(size=N_COND)
    mv = 2 * N_COND * N_COND * N_TGT
    kb = 8 * (mat.size + vecs.size + N_COND)
    out["krige"] = (lambda: K.calc_field_krige(mat, vecs, cond), mv + 2 * N_COND * N_TGT, 0, kb + 8 * N_TGT)
    out["krige_error"] = (
        lambda: K.calc_field_krige_and_variance(mat, vecs, cond), mv + 4 * N_COND * N_TGT, 0, kb + 16 * N_TGT,
    )
    f = rng.normal(size=(NX, NY))
    mask = rng.random(size=(NX, NY)) < 0.5
    lag_pairs = NY * NX * (NX - 1) // 2
    out["variogram_structured"] = (lambda: K.variogram_structured(f), 3 * lag_pairs, 0, 8 * (f.size + NX))
    out["variogram_ma_structured"] = (
        lambda: K.variogram_ma_structured(f, mask), 4 * lag_pairs, 0, 8 * (f.size + NX) + mask.size,
    )
    pos = rng.uniform(0, 40, size=(2, N_PTS))
    fv = rng.normal(size=(1, N_PTS))
    edges = np.linspace(0, 20, N_BINS + 1)
    pairs = N_PTS * (N_PTS - 1) // 2
    dirs = np.array([[1.0, 0.0], [0.0, 1.0]])
    out["variogram_unstructured"] = (
        lambda: K.variogram_unstructured(fv, edges, pos), 9 * pairs, pairs, 8 * (pos.size + N_PTS + 2 * N_BINS),
    )
    out["variogram_directional"] = (
        lambda: K.variogram_directional(fv, edges, pos, dirs),
        (9 + 6 * N_DIRS) * pairs, (1 + N_DIRS) * pairs, 8 * (pos.size + N_PTS + 2 * N_DIRS * N_BINS),
    )
    return out


def time_kernels(reps: int = 2, seed: int = 19031977) -> dict:
    """name → {"s": median seconds, "flop", "trans", "bytes", "gflop_per_s"}."""
    rng = np.random.default_rng(seed)
    result = {}
    for name, (call, flop, trans, nbytes) in _cases(rng).items():
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            call()
            times.append(time.perf_counter() - t0)
        s = statistics.median(times)
        result[name] = {
            "s": s, "flop": int(flop), "trans": int(trans), "bytes": int(nbytes),
            "gflop_per_s": flop / s / 1e9, "counts": "computed",
        }
    return result
