"""The four benchmark workloads: seeded inputs, one rep each, output checks.

Every workload has the same three steps:

* ``setup(spark, seed, size)`` builds the seeded inputs (and any reference
  answers) and returns a state dict;
* ``rep(spark, state, tr)`` runs the workload once through the engine's
  public functions and returns a small, JSON-able summary of the output;
* ``check(state, out)`` returns a list of failed checks (empty = correct).

``tr`` is a ``trace.Tracer``; ``with tr.layer(name):`` is a no-op in the
untraced run and tags the Spark jobs of the block in the traced one.  Every
layer's output is materialised inside its own block, in both modes, so the
two runs execute the same jobs.

No engine tuning knob is passed: ``group_cells``, ``hot_threshold``,
``hot_cap``, ``max_abs_lat``, ``assign``, ``impl`` and ``rerank`` all stay at
their defaults.
"""

from __future__ import annotations

import hashlib
import json
import math

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import functions as F

from gstools_core_spark import api
from gstools_core_spark import kernels as K
from gstools_core_spark.functions import cells as C
from gstools_core_spark.functions import text as T
from gstools_core_spark.functions.models import Gaussian
from gstools_core_spark.operators import fit as FIT
from gstools_core_spark.operators import kriging as KR
from gstools_core_spark.operators import similarity as SIM
from gstools_core_spark.operators import spatial as SP
from gstools_core_spark.operators import variogram as V
from gstools_core_spark.sources import pages as PG

# Input sizes.  "full" is what the benchmark measures; "tiny" is the
# self-test's size (same code paths, seconds per rep).
SIZES = {
    "geostat_planar": {"full": 12_000, "tiny": 1_500},
    "pages_sphere": {"full": 12_000, "tiny": 2_000},
    "api_dropin": {"full": 2_000, "tiny": 200},
    "webtext_ann": {"full": 5_000, "tiny": 1_500},
}

FLOAT_RTOL = 1e-6  # pinned floats: catches wrong answers, not summation order


def _u01(seed: int, k: int, col: str = "id"):
    """Hash-uniform in [0, 1) from (row id, seed, stream k)."""
    h = F.xxhash64(F.col(col), F.lit(int(seed)), F.lit(int(k)))
    return F.pmod(h, F.lit(1 << 30)).cast("double") / float(1 << 30)


def _persist(df):
    df = df.persist(StorageLevel.MEMORY_ONLY)
    df.count()
    return df


# --------------------------------------------------------------------------
# geostat_planar
# --------------------------------------------------------------------------

PLANAR_DENSITY = 400.0  # points per unit area: ~80 cond points per kriging ring
PLANAR_EDGES = [i * 0.5 / 6 for i in range(7)]  # 6 bins out to 0.5
PLANAR_RADIUS = 0.5
PLANAR_MODES = 256


def planar_setup(spark, seed: int, n: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    side = math.sqrt(n / PLANAR_DENSITY)
    waves = rng.normal(size=(4, 2)) * 1.5  # wavelengths of a few units
    phase = rng.uniform(0, 2 * math.pi, 4)
    amp = rng.uniform(0.5, 1.0, 4)
    x = _u01(seed, 1) * side
    y = _u01(seed, 2) * side
    pts = spark.range(0, n, 1, spark.sparkContext.defaultParallelism).select(
        "id", x.alias("x"), y.alias("y")
    )
    smooth = sum(
        float(amp[j]) * F.cos(float(waves[j, 0]) * F.col("x") + float(waves[j, 1]) * F.col("y") + float(phase[j]))
        for j in range(4)
    )
    noise = (_u01(seed, 3) - 0.5) * 0.2
    pts = _persist(pts.withColumn("val", smooth + noise))
    cond = _persist(pts.where(F.pmod(F.xxhash64("id", F.lit(seed + 11)), F.lit(10)) == 0))
    return {"n": n, "seed": seed, "pts": pts, "cond": cond, "rows": n}


def spectral_modes(model, seed: int, n_modes: int):
    """Randomisation-method modes of a fitted Gaussian model
    (cor = exp(-h²/ℓ²) ⇔ wave vectors ~ N(0, 2/ℓ²))."""
    rng = np.random.default_rng([seed, 2])
    modes = rng.normal(size=(2, n_modes)) * (math.sqrt(2.0) / model.len_scale)
    scale = math.sqrt(model.var / n_modes)
    return modes, rng.normal(size=n_modes) * scale, rng.normal(size=n_modes) * scale


def planar_rep(spark, st: dict, tr) -> dict:
    with tr.layer("variogram"):
        vario = V.variogram_unstructured(st["pts"], PLANAR_EDGES).orderBy("bin_id").collect()
    h = np.array([(r["lo"] + r["hi"]) / 2 for r in vario])
    gamma = np.array([r["gamma"] for r in vario])
    counts = np.array([r["counts"] for r in vario], dtype=np.int64)
    with tr.layer("fit"):
        model = FIT.fit_variogram((h, gamma, counts), Gaussian)
    modes, z1, z2 = spectral_modes(model, st["seed"], PLANAR_MODES)
    with tr.layer("kriging.call"):
        cf = FIT.conditional_field(
            st["pts"], st["cond"], model, modes, z1, z2, radius=PLANAR_RADIUS
        )
    with tr.layer("kriging.exec"):
        cf = _persist(cf)
    try:
        with tr.layer("spatial"):
            tiles = SP.rasterize_tiles(cf, cell_size=0.25, value_col="cond_field", tile_cells=8).collect()
        with tr.layer("check"):
            s = cf.agg(
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct("id").alias("ids"),
                F.sum("cond_field").alias("sum_field"),
                F.sum("krige_var").alias("sum_var"),
                F.min("krige_var").alias("min_var"),
                F.sum((~F.isnan("cond_field") & (F.abs("cond_field") < F.lit(1e300))).cast("long")).alias("finite"),
                F.sum("n_cond").alias("sum_ncond"),
            ).first()
    finally:
        cf.unpersist(blocking=True)
    tile_n = sorted((int(r["tile_x"]), int(r["tile_y"]), int(r["n_points"])) for r in tiles)
    tile_sum = float(sum(np.nansum(np.array(r["grid"], dtype=np.float64)) for r in tiles))
    return {
        "exact": {
            "counts": counts.tolist(),
            "rows": s["rows"],
            "ids": s["ids"],
            "sum_ncond": s["sum_ncond"],
            "tiles": tile_n,
        },
        "floats": {
            "gamma": gamma.tolist(),
            "model": [model.var, model.len_scale, model.nugget],
            "sum_field": s["sum_field"],
            "sum_var": s["sum_var"],
            "tile_sum": tile_sum,
        },
        "inv": {"min_var": s["min_var"], "finite": s["finite"]},
    }


def planar_check(st: dict, out: dict) -> list:
    e, f, inv = out["exact"], out["floats"], out["inv"]
    errs = []
    if e["rows"] != st["n"] or e["ids"] != st["n"]:
        errs.append(f"rows {e['rows']} / ids {e['ids']} != targets {st['n']}")
    if inv["finite"] != st["n"]:
        errs.append(f"{st['n'] - inv['finite']} non-finite field values")
    if not inv["min_var"] >= 0.0:
        errs.append(f"negative kriging variance {inv['min_var']}")
    if sum(n for *_, n in e["tiles"]) != st["n"]:
        errs.append("raster tiles do not cover every target once")
    if min(e["counts"]) <= 0 or not all(math.isfinite(g) and g >= 0 for g in f["gamma"]):
        errs.append("empty or invalid variogram bin")
    var, ls, nug = f["model"]
    if not (var > 0 and 0 < ls < 100 and nug >= 0):
        errs.append(f"implausible fitted model {f['model']}")
    return errs


# --------------------------------------------------------------------------
# pages_sphere
# --------------------------------------------------------------------------

SPHERE_RADIUS = 0.05  # central angle, radians (~2.9 degrees)
SPHERE_CELL_RES = 7  # geo_cell_col resolution of the tile counts


def sphere_setup(spark, seed: int, n: int) -> dict:
    # the engine synthesises the pages inside the rep; the seed picks a
    # 95 % sample of them and the 10 % conditioning subset
    return {"n": n, "seed": seed, "rows": n}


def sphere_rep(spark, st: dict, tr) -> dict:
    seed = st["seed"]
    with tr.layer("pages"):
        pages = PG.geocode(PG.synthesize_pages(spark, st["n"]))
        pts = _persist(
            pages.where(F.pmod(F.xxhash64("page_id", F.lit(seed)), F.lit(20)) != 0).select(
                F.xxhash64("url").alias("id"),
                "lat",
                "lon",
                T.quality_score(F.col("text")).alias("val"),
            )
        )
    kriged = None
    try:
        with tr.layer("cells"):
            cells = (
                pts.groupBy(C.geo_cell_col(F.col("lat"), F.col("lon"), SPHERE_CELL_RES).alias("cell"))
                .count()
                .collect()
            )
        cond = pts.where(F.pmod(F.xxhash64("id", F.lit(seed + 11)), F.lit(10)) == 0)
        model = KR.GaussianModel(var=1.0, len_scale=SPHERE_RADIUS, nugget=0.01)
        with tr.layer("kriging.call"):
            kriged = KR.krige(
                pts, cond, model, radius=SPHERE_RADIUS, method="ordinary",
                coords=("lat", "lon"), knn=16, haversine=True, salt_hot=8,
            )
        with tr.layer("kriging.exec"):
            kriged = _persist(kriged)
        with tr.layer("check"):
            s = kriged.agg(
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct("id").alias("ids"),
                F.sum("krige_mean").alias("sum_mean"),
                F.sum("krige_var").alias("sum_var"),
                F.min("krige_var").alias("min_var"),
                F.sum((~F.isnan("krige_mean") & (F.abs("krige_mean") < F.lit(1e300))).cast("long")).alias("finite"),
                F.sum("n_cond").alias("sum_ncond"),
            ).first()
            n_pts = pts.count()
    finally:
        if kriged is not None:
            kriged.unpersist(blocking=True)
        pts.unpersist(blocking=True)
    counts = sorted(int(r["count"]) for r in cells)
    return {
        "exact": {
            "points": n_pts,
            "rows": s["rows"],
            "ids": s["ids"],
            "sum_ncond": s["sum_ncond"],
            "cells": [len(counts), counts[-1], hashlib.sha256(json.dumps(counts).encode()).hexdigest()],
        },
        "floats": {"sum_mean": s["sum_mean"], "sum_var": s["sum_var"]},
        "inv": {"min_var": s["min_var"], "finite": s["finite"], "cells_total": sum(counts)},
        "layer": {"cells.max_cell_share": counts[-1] / max(n_pts, 1)},
    }


def sphere_check(st: dict, out: dict) -> list:
    e, inv = out["exact"], out["inv"]
    errs = []
    n = e["points"]
    if not 0.9 * st["n"] < n < st["n"]:
        errs.append(f"seeded 95 % sample has {n} of {st['n']} pages")
    if e["rows"] != n or e["ids"] != n:
        errs.append(f"rows {e['rows']} / ids {e['ids']} != targets {n}")
    if inv["finite"] != n:
        errs.append(f"{n - inv['finite']} non-finite kriging means")
    if not inv["min_var"] >= 0.0:
        errs.append(f"negative kriging variance {inv['min_var']}")
    if inv["cells_total"] != n:
        errs.append("tile counts do not cover every page once")
    if not 0 < e["sum_ncond"] <= 16 * n:
        errs.append(f"n_cond total {e['sum_ncond']} outside (0, 16·n]")
    return errs


# --------------------------------------------------------------------------
# api_dropin probe — the reference's criterion shapes through the drop-in API
# --------------------------------------------------------------------------

def api_setup(spark, seed: int, n: int) -> dict:
    """Arrays at the reference's criterion shapes (BASELINE.md) for
    n = 2,000 variogram points, and the Spark-free kernels' answers on
    them, which the API is checked against."""
    rng = np.random.default_rng([seed, 3])
    n_pos, n_modes, n_cond = 5 * n, n // 2, n // 4
    f, edges, pos = rng.normal(size=(1, n)), np.linspace(0.0, 20.0, 30), rng.uniform(0.0, 40.0, size=(2, n))
    a = rng.normal(size=(n_cond, n_cond))
    x = {
        "vario": (f, edges, pos),
        "direction": np.array([[1.0, 0.0], [0.0, 1.0]]),
        "summate": (
            rng.normal(size=(2, n_modes)),
            rng.normal(size=n_modes),
            rng.normal(size=n_modes),
            rng.uniform(0.0, 100.0, size=(2, n_pos)),
        ),
        "krige": (a @ a.T + n_cond * np.eye(n_cond), rng.normal(size=(n_cond, n_pos)), rng.normal(size=n_cond)),
    }
    ref = {
        "variogram_unstructured": K.variogram_unstructured(f, edges, pos),
        "variogram_directional": K.variogram_directional(f, edges, pos, x["direction"]),
        "summate": K.summate(*x["summate"]),
        "calc_field_krige_and_variance": K.calc_field_krige_and_variance(*x["krige"]),
    }
    return {"x": x, "ref": ref, "seed": seed, "rows": n}


def api_rep(spark, st: dict, tr) -> dict:
    x = st["x"]
    f, edges, pos = x["vario"]
    res = {}
    with tr.layer("api.variogram_unstructured"):
        res["variogram_unstructured"] = api.variogram_unstructured(f, edges, pos)
    with tr.layer("api.variogram_directional"):
        res["variogram_directional"] = api.variogram_directional(f, edges, pos, x["direction"])
    with tr.layer("api.summate"):
        res["summate"] = api.summate(*x["summate"])
    with tr.layer("api.calc_field_krige_and_variance"):
        res["calc_field_krige_and_variance"] = api.calc_field_krige_and_variance(*x["krige"])
    return {"res": res}


def api_check(st: dict, out: dict) -> list:
    errs = []
    res, ref = out["res"], st["ref"]
    for fn in ("variogram_unstructured", "variogram_directional"):
        (g, c), (g_ref, c_ref) = res[fn], ref[fn]
        if not np.array_equal(np.asarray(c, dtype=np.int64), np.asarray(c_ref, dtype=np.int64)):
            errs.append(f"{fn}: pair counts differ from kernels")
        if not np.allclose(g, g_ref, rtol=1e-9, atol=1e-12):
            errs.append(f"{fn}: gamma differs from kernels")
    if not np.allclose(res["summate"], ref["summate"], rtol=1e-9, atol=1e-9):
        errs.append("summate: field differs from kernels")
    for got, want, what in zip(res["calc_field_krige_and_variance"], ref["calc_field_krige_and_variance"], ("field", "error")):
        if not np.allclose(got, want, rtol=1e-9, atol=1e-12):
            errs.append(f"calc_field_krige_and_variance: {what} differs from kernels")
    return errs


# --------------------------------------------------------------------------
# webtext_ann probe — ANN over seeded page embeddings
# --------------------------------------------------------------------------

ANN_DIM = 64
ANN_K = 10
ANN_TOPICS = 48


def ann_setup(spark, seed: int, n: int) -> dict:
    """Seeded page embeddings with topic structure (a topic centre plus
    noise), 5 % of them queries; the exact top-k from ``cosine_topk`` is
    the truth recall is measured against."""
    import pandas as pd

    rng = np.random.default_rng([seed, 4])
    centres = rng.normal(size=(ANN_TOPICS, ANN_DIM))
    topic = rng.integers(0, ANN_TOPICS, size=n)
    vecs = (centres[topic] + 0.35 * rng.normal(size=(n, ANN_DIM))).astype(np.float32)
    is_q = rng.random(n) < 0.05
    ids = np.arange(n, dtype=np.int64)

    def frame(mask, key):
        pdf = pd.DataFrame({key: ids[mask], "embedding": list(vecs[mask])})
        return _persist(spark.createDataFrame(pdf, f"{key} long, embedding array<float>").repartition(
            spark.sparkContext.defaultParallelism))

    q, base = frame(is_q, "qid"), frame(~is_q, "bid")
    exact = {}
    for r in SIM.cosine_topk(q, base, k=ANN_K).collect():
        exact.setdefault(r["qid"], set()).add(r["bid"])
    n_base = int((~is_q).sum())
    return {
        "seed": seed, "q": q, "base": base, "exact": exact,
        "vecs": vecs.astype(np.float64), "rows": n, "n_base": n_base,
        # ivf_ann's default quantizer has isqrt(n_base) clusters; with ≤64 the
        # default assign='auto' takes the interpreted F.aggregate path
        "ivf_clusters": math.isqrt(n_base),
        "ivf_assign_path": "interpreted" if math.isqrt(n_base) <= 64 else "numpy",
    }


def _recall(rows, exact: dict) -> float:
    got = {}
    for r in rows:
        got.setdefault(r["qid"], set()).add(r["bid"])
    return float(np.mean([len(got.get(q, set()) & want) / len(want) for q, want in exact.items()]))


def ann_rep(spark, st: dict, tr) -> dict:
    with tr.layer("similarity.ivf"):
        ivf = SIM.ivf_ann(st["q"], st["base"], k=ANN_K).collect()
    with tr.layer("similarity.lsh"):
        lsh = SIM.lsh_ann(st["q"], st["base"], k=ANN_K, dim=ANN_DIM).collect()
    out = {"exact": {"n_rows": [len(ivf), len(lsh)]}, "floats": {}, "rows": {}}
    for name, rows in (("ivf", ivf), ("lsh", lsh)):
        out["floats"][f"{name}_recall_at_10"] = _recall(rows, st["exact"])
        out["rows"][name] = [(r["qid"], r["bid"], r["cos_sim"], r["rank"]) for r in rows]
    return out


def ann_check(st: dict, out: dict) -> list:
    errs = []
    v = st["vecs"]
    for name, rows in out["rows"].items():
        qid, bid, sim, rank = (np.array([r[i] for r in rows]) for i in range(4))
        a, b = v[qid.astype(np.int64)], v[bid.astype(np.int64)]
        want = np.sum(a * b, axis=1) / (np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1))
        if not np.allclose(sim, want, rtol=1e-9, atol=1e-12):
            errs.append(f"{name}: cos_sim differs from numpy cosine")
        per_q = {}
        for q, r in zip(qid.tolist(), rank.tolist()):
            per_q.setdefault(q, []).append(r)
        if any(sorted(r) != list(range(1, len(r) + 1)) or len(r) > ANN_K for r in per_q.values()):
            errs.append(f"{name}: ranks are not 1..k per query")
        if set(per_q) - set(st["exact"]):
            errs.append(f"{name}: results for unknown query ids")
        recall = out["floats"][f"{name}_recall_at_10"]
        if not 0.0 < recall <= 1.0:
            errs.append(f"{name}: recall@10 {recall:.3f} outside (0, 1]")
    return errs


def ann_teardown(st: dict) -> None:
    st["q"].unpersist(blocking=True)
    st["base"].unpersist(blocking=True)


def planar_teardown(st: dict) -> None:
    st["pts"].unpersist(blocking=True)
    st["cond"].unpersist(blocking=True)


# name → (setup, rep, check, teardown)
WORKLOADS = {
    "geostat_planar": (planar_setup, planar_rep, planar_check, planar_teardown),
    "pages_sphere": (sphere_setup, sphere_rep, sphere_check, None),
}
# Layer probes that run only in a traced run, on the workload named here
# (see README: a benchmark run's time budget fits two end-to-end workloads).
PROBES = {
    "api_dropin": ("geostat_planar", api_setup, api_rep, api_check, None),
    "webtext_ann": ("pages_sphere", ann_setup, ann_rep, ann_check, ann_teardown),
}


def digest(out: dict) -> dict:
    """The part of a rep's output that must repeat across reps and match
    the pinned value for the seed: exact integers and floats."""
    return json.loads(json.dumps({"exact": out.get("exact", {}), "floats": out.get("floats", {})}))


def same_digest(a: dict, b: dict, rtol: float = FLOAT_RTOL) -> bool:
    if a["exact"] != b["exact"] or set(a["floats"]) != set(b["floats"]):
        return False
    for k, va in a["floats"].items():
        x, y = np.ravel(np.asarray(va, dtype=np.float64)), np.ravel(np.asarray(b["floats"][k], dtype=np.float64))
        if x.shape != y.shape or not np.allclose(x, y, rtol=rtol, atol=rtol):
            return False
    return True
