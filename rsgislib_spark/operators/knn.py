"""kNN operators.

 - :func:`knn_apply` — feature-space kNN extrapolation, reference
   ``apply_rat_knn`` (binding ``python/src/rastergis.cpp:2095-2126``, impl
   ``src/rastergis/RSGISRATKNN.cpp:32-228``): for each apply row, the k
   nearest TRAINING rows under a distance metric, within ``dist_thres``,
   summarized (mean/median/mode/min/max/stddev). Defaults k=12,
   mahalanobis, median (``rastergis.cpp:2106-2109``).
   Metrics enum: euclidean/manhattan/mahalanobis/minkowski/chebyshev
   (``python/rsgislib/__init__.py:160-166``).

 - :func:`closest_point_join` — spatial k=1 join, reference
   ``match_closest_vec_pts`` (``vectorutils/__init__.py:3359-3473``):
   argmin of the full distance matrix, optional tolerance. The reference
   raises on ties; we break ties deterministically by smallest train id
   (documented deviation, SURVEY §2.3).

 - :func:`knn_features_bucketed` — the SCALE path (the north rule's "kNN
   neighbor lookup over cell-bucketed candidates"), in any number of
   dimensions: both sides bucketed to grid cells, candidates = query's
   ring of cells (equi-join, no broadcast of the point table), exact
   refine + ``row_number() <= k``. A ring-escalation loop guarantees
   exactness: a query is resolved only when its kth-neighbour distance
   is within the ring's coverage guarantee (any point outside ring R is
   at distance > R·cell), so bucketed == brute-force always.
   :func:`knn_points_bucketed`, the spatial 2-D path, is its d=2 case.

 - :func:`radius_count_bucketed` — radius count on the same cell key and
   ring explode (cell ≥ r ⇒ ring-1 covers the disk), replacing the
   O(N²) theta-join.

Physical shape: ``knn_apply``/``closest_point_join``/``radius_count``
broadcast the training/match side — the documented FAST PATH when that
side is small (it is the labelled sample set by construction). The
``*_bucketed`` operators are the default at scale: shuffle on the cell
key only, candidates per query bounded by local density, skew handled
by the same salting policy as the spatial join.
"""

from __future__ import annotations

import math
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F

METRICS = ("euclidean", "manhattan", "chebyshev", "minkowski", "mahalanobis")
SUMMARIES = ("mean", "median", "mode", "min", "max", "stddev")
#: Driver fence for the broadcast side (fenced_small_pdf) — patchable in tests.
MAX_BROADCAST_TRAIN = 5_000_000


#: Linear cell-key grid dimension (matches kernels.cells.linear_cell).
GRID_DIM = 1 << 21


def _union_and_release(outs: list, persisted: list) -> DataFrame:
    """Union the per-round outputs; when the escalation loop cached
    intermediates, materialize the union once (localCheckpoint — the
    blocks are reclaimed by the ContextCleaner on GC) and release the
    round caches, so repeated invocations in a long-lived session don't
    accumulate persisted blocks until the storage pool evicts."""
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    if persisted:
        out = out.localCheckpoint(eager=True)
        for p in persisted:
            p.unpersist()
    return out


def _prefixed(df: DataFrame, id_col: str, id_alias: str, prefix: str, cols) -> DataFrame:
    """``id_col`` as ``id_alias`` plus ``cols`` cast to double and renamed
    ``{prefix}0..`` — the column layout :func:`_cell_key` and :func:`_d2`
    read."""
    return df.select(
        F.col(id_col).alias(id_alias),
        *[F.col(c).cast("double").alias(f"{prefix}{j}") for j, c in enumerate(cols)],
    )


def _d2(d: int) -> F.Column:
    """Squared euclidean distance between ``q0..`` and ``t0..``."""
    d2 = F.lit(0.0)
    for j in range(d):
        diff = F.col(f"q{j}") - F.col(f"t{j}")
        d2 = d2 + diff * diff
    return d2


def _cell_key(prefix: str, d: int, cell: float, offsets: bool = False) -> F.Column:
    """Grid-cell key of the d feature columns ``{prefix}0..{prefix}{d-1}``,
    each index shifted by its ring offset column ``_o{j}`` when
    ``offsets``. d ≤ 3 packs the per-dim indices into ONE long (radix
    GRID_DIM — cheapest shuffle key; indices must fit 21 bits); d ≥ 4
    uses a STRUCT of per-dim longs (Catalyst joins on struct equality)."""

    def digit(j):
        idx = F.floor(F.col(f"{prefix}{j}") / F.lit(cell)).cast("long")
        if offsets:
            idx = idx + F.col(f"_o{j}")
        return idx

    if d <= 3:
        # radix-packed d-digit key; digits shifted by half the radix
        # so negative feature indices stay injective (signed digits
        # with magnitude near GRID_DIM/2 would otherwise collide
        # across adjacent high digits)
        kcol = F.lit(0).cast("long")
        for j in range(d):
            kcol = kcol * F.lit(GRID_DIM) + digit(j) + F.lit(GRID_DIM // 2)
        return kcol
    # d ≥ 4: struct key — no packing budget, joins on struct equality
    return F.struct(*[digit(j).alias(f"k{j}") for j in range(d)])


def _ring_candidates(queries: DataFrame, t: DataFrame, d: int, cell: float, ring: int) -> DataFrame:
    """Queries (``q0..``) exploded to their (2·ring+1)^d neighbour cells —
    one chained explode per dimension, JVM-side — equi-joined to the
    keyed points ``t`` (shuffle_hash hint: the point table is never
    broadcast)."""
    qe = queries
    for j in range(d):
        qe = qe.withColumn(f"_o{j}", F.explode(F.expr(f"sequence({-ring}, {ring})")))
    qe = qe.withColumn("cell_key", _cell_key("q", d, cell, offsets=True))
    return qe.join(t.hint("shuffle_hash"), "cell_key")


def knn_points_bucketed(
    queries: DataFrame,
    points: DataFrame,
    k: int = 12,
    cell: float = 4096.0,
    dist_thres: float = np.inf,
    id_col: str = "pt_id",
    x_col: str = "x",
    y_col: str = "y",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact spatial kNN over CELL-BUCKETED candidates — the scale path
    promised by the north rule and by ``apply_rat_knn``'s contract
    (ref: src/rastergis/RSGISRATKNN.cpp:390-420, which linearly scans
    all training rows; here the scan is restricted to the k-ring). The
    d=2 case of :func:`knn_features_bucketed` over ``(x_col, y_col)``.

    Neighbours at ``dist >= dist_thres`` are excluded (strict ``<``,
    matching knn_apply / the reference's dist_thres test). Queries with
    fewer than k in-threshold neighbours return fewer rows.

    Returns (query_id, nbr_id, d2, rank) with rank 1..k ordered by
    (d2, nbr_id) — deterministic across engines when coordinates live
    on an integer lattice (d2 is then integer-valued).
    """
    return knn_features_bucketed(
        queries, points, [x_col, y_col], k=k, cell=cell,
        dist_thres=dist_thres, id_col=id_col, exclude_self=exclude_self,
    )


def knn_features_bucketed(
    queries: DataFrame,
    points: DataFrame,
    feat_cols: Sequence[str],
    k: int = 12,
    cell: float = 100.0,
    dist_thres: float = np.inf,
    id_col: str = "pt_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact FEATURE-SPACE kNN over d-dimensional grid buckets — the
    scale path for ``apply_rat_knn``'s euclidean metric when the
    training side outgrows a broadcast (ref RSGISRATKNN.cpp:390-420
    linearly scans all training rows; knn_apply broadcasts them; this
    restricts the scan to the Chebyshev cell neighbourhood).

    Two-phase plan, pure Catalyst (no UDF, NO broadcast of ``points``):

    1. bucket ``points`` by cell key; explode each query to its
       (2r+1)^d ring of candidate cells (one chained explode per
       dimension); equi-join on the cell key (shuffle_hash hint so the
       optimizer never broadcasts the point table);
    2. exact refine: d2 + ``row_number() ≤ k`` per query, ordered by
       (d2, nbr_id).

    Exactness: any point outside the Chebyshev ring R is at L∞ — hence
    L2 — distance > R·cell, in every dimension count, so a query is
    RESOLVED once its kth-candidate distance is ≤ R·cell (or R·cell ≥
    dist_thres / the combined query+point span). Unresolved queries
    re-run with a 4× ring — each round is a distributed pass over only
    the remaining queries, so the common case is one round plus a cheap
    empty check. Neighbours at ``dist >= dist_thres`` are excluded.
    Returns (query_id, nbr_id, d2, rank).

    Cell key: d ≤ 3 packs the per-dim indices into ONE long (radix
    GRID_DIM — cheapest shuffle key; indices must fit 21 bits); d ≥ 4
    uses a STRUCT of per-dim longs (Catalyst joins on struct equality;
    no bit budget, arbitrary d — the reference's apply_rat_knn takes
    any number of RAT fields, RSGISRATKNN.cpp:82-86). The ring explode
    is (2r+1)^d rows per query, so high-d escalation hands off to the
    exact cross-join finalizer after a d-dependent cutoff — grid
    bucketing's curse of dimensionality is real; for d ≳ 8 prefer
    similarity.lsh_bucketed_topk."""
    d = len(feat_cols)
    if d < 1:
        raise ValueError("knn_features_bucketed needs at least 1 feature dim")
    q0 = _prefixed(queries, id_col, "query_id", "q", feat_cols)
    t = _prefixed(points, id_col, "nbr_id", "t", feat_cols)
    t = t.withColumn("cell_key", _cell_key("t", d, cell))

    stats = points.agg(
        *[F.min(c).alias(f"pmin{j}") for j, c in enumerate(feat_cols)],
        *[F.max(c).alias(f"pmax{j}") for j, c in enumerate(feat_cols)],
        F.count("*").alias("n"),
    ).first()
    qstats = queries.agg(
        *[F.min(c).alias(f"qmin{j}") for j, c in enumerate(feat_cols)],
        *[F.max(c).alias(f"qmax{j}") for j, c in enumerate(feat_cols)],
    ).first()
    span = max(
        float(stats[f"pmax{j}"] or 0.0) - float(stats[f"pmin{j}"] or 0.0)
        for j in range(d)
    )
    # combined query+point span per dim — queries outside the point bbox
    # must still reach every point cell on the forced final ring
    comb_span = max(
        max(float(stats[f"pmax{j}"] or 0.0), float(qstats[f"qmax{j}"] or 0.0))
        - min(float(stats[f"pmin{j}"] or 0.0), float(qstats[f"qmin{j}"] or 0.0))
        for j in range(d)
    )
    n_points = int(stats["n"])
    max_ring = max(1, int(math.ceil(comb_span / cell)) + 1)
    thres2 = dist_thres * dist_thres
    vol = max(span, cell) ** d
    density = n_points / vol if vol > 0 else 0.0
    if density > 0:
        # radius of the d-ball expected to hold k points
        # (V_d = π^{d/2} / Γ(d/2 + 1), any d)
        ball = math.pi ** (d / 2.0) / math.gamma(d / 2.0 + 1.0)
        r_expect = ((k + 1) / (ball * density)) ** (1.0 / d)
        ring = max(1, int(math.ceil(r_expect / cell)))
    else:
        ring = 1
    ring = min(ring, max_ring)
    if d <= 3:
        XJOIN_RING = {1: 2048, 2: 64, 3: 16}[d]
    else:
        # largest ring whose (2r+1)^d explode stays under ~20k candidate
        # cells per query; past it the exact cross-join finalizer wins
        XJOIN_RING = max(1, int((20_000 ** (1.0 / d) - 1) // 2))

    remaining = q0
    outs = []
    persisted = []
    while True:
        ring = min(ring, max_ring)
        # a ring beyond the explode cutoff finalizes via cross-join: the
        # cross-join is EXACT for any ring (all points are candidates),
        # and a (2r+1)^d explode at large r is astronomically worse
        final_round = (
            ring >= max_ring or ring * cell >= dist_thres or ring > XJOIN_RING
        )
        if final_round and ring > XJOIN_RING:
            # exact last resort: all points are candidates (no broadcast —
            # Spark cartesian shuffles both sides)
            cand = remaining.crossJoin(t.drop("cell_key"))
        else:
            cand = _ring_candidates(remaining, t, d, cell, ring)
        if exclude_self:
            cand = cand.filter(F.col("query_id") != F.col("nbr_id"))
        cand = cand.withColumn("d2", _d2(d))
        if np.isfinite(dist_thres):
            cand = cand.filter(F.col("d2") < F.lit(thres2))
        win = W.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("nbr_id"))
        ranked = (
            cand.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select("query_id", "nbr_id", "d2", "rank")
        )
        if final_round:
            outs.append(ranked)
            break
        ranked = ranked.persist()
        persisted.append(ranked)
        guar2 = float(ring * cell) ** 2
        resolved = (
            ranked.groupBy("query_id")
            .agg(F.count("*").alias("cnt"), F.max("d2").alias("maxd2"))
            .filter((F.col("cnt") >= k) & (F.col("maxd2") <= F.lit(guar2)))
            .select("query_id")
        )
        outs.append(ranked.join(resolved, "query_id"))
        remaining = remaining.join(resolved, "query_id", "left_anti").persist()
        persisted.append(remaining)
        if remaining.isEmpty():
            break
        ring *= 4

    return _union_and_release(outs, persisted)


def radius_count_bucketed(
    points: DataFrame,
    radius: float,
    id_col: str = "pt_id",
    x_col: str = "x",
    y_col: str = "y",
    cell: float | None = None,
) -> DataFrame:
    """Count of OTHER points within ``radius`` via the cell equi-join —
    the scale path of ``calc_npts_in_radius`` (ref
    vectorattrs/__init__.py:997-1049). With ``cell ≥ radius`` the ring-1
    neighbourhood covers the whole disk, so candidates are exact; the
    refine keeps ``d2 ≤ r²``. The self-pair (d2 = 0) always joins, so an
    inner join + count-1 yields 0 for isolated points without a left
    join. Pure Catalyst; no broadcast of the point table; one shuffle on
    the cell key + one on the id for the count."""
    cell = float(cell if cell is not None else radius)
    if cell < radius:
        raise ValueError("cell must be >= radius for ring-1 coverage")
    xy = [x_col, y_col]
    t = _prefixed(points, id_col, "nbr_id", "t", xy)
    t = t.withColumn("cell_key", _cell_key("t", 2, cell))
    q = _prefixed(points, id_col, "query_id", "q", xy)
    r2 = float(radius) * float(radius)
    cand = _ring_candidates(q, t, 2, cell, 1).filter(_d2(2) <= F.lit(r2))
    return cand.groupBy(F.col("query_id").alias(id_col)).agg(
        (F.count("*") - F.lit(1)).alias("n_in_radius")
    )


def _distances(q: np.ndarray, t: np.ndarray, metric: str, p: float, vi: np.ndarray | None):
    """(nq, nt) distance matrix, vectorized."""
    d = q[:, None, :] - t[None, :, :]
    if metric == "euclidean":
        return np.sqrt((d * d).sum(axis=2))
    if metric == "manhattan":
        return np.abs(d).sum(axis=2)
    if metric == "chebyshev":
        return np.abs(d).max(axis=2)
    if metric == "minkowski":
        return (np.abs(d) ** p).sum(axis=2) ** (1.0 / p)
    if metric == "mahalanobis":
        # d Vi d^T per pair; Vi = inverse covariance of the TRAINING set
        return np.sqrt(np.einsum("qtf,fg,qtg->qt", d, vi, d))
    raise ValueError(f"metric must be one of {METRICS}")


def _summarize(vals: np.ndarray, how: str) -> float:
    """Scalar reference implementation of one summary. NOT on the
    operator path (superseded by the vectorized ``_summarize_rows``) —
    kept as the per-row test oracle in tests/test_operators."""
    if how == "mean":
        return float(vals.mean())
    if how == "median":
        return float(np.median(vals))
    if how == "mode":
        u, c = np.unique(vals, return_counts=True)
        return float(u[np.argmax(c)])  # ties → smallest value (np.unique sorted)
    if how == "min":
        return float(vals.min())
    if how == "max":
        return float(vals.max())
    if how == "stddev":
        return float(vals.std())
    raise ValueError(f"summary must be one of {SUMMARIES}")


def _summarize_rows(vals: np.ndarray, valid: np.ndarray, how: str) -> np.ndarray:
    """Row-wise neighbour summaries over a (nq, kk) candidate value
    matrix with a validity mask — batch-vectorized (no per-row Python).
    Rows with no valid neighbour return NaN. Semantics match
    :func:`_summarize` per row: population stddev, numpy even-count
    median, mode ties → smallest value."""
    nq = vals.shape[0]
    n = valid.sum(axis=1)
    out = np.full(nq, np.nan)
    rows = n > 0
    if not rows.any():
        return out
    if how == "mean":
        s = np.where(valid, vals, 0.0).sum(axis=1)
        out[rows] = s[rows] / n[rows]
    elif how == "min":
        out[rows] = np.where(valid, vals, np.inf).min(axis=1)[rows]
    elif how == "max":
        out[rows] = np.where(valid, vals, -np.inf).max(axis=1)[rows]
    elif how == "stddev":
        s = np.where(valid, vals, 0.0).sum(axis=1)
        mean = np.zeros(nq)
        mean[rows] = s[rows] / n[rows]
        dev2 = np.where(valid, (vals - mean[:, None]) ** 2, 0.0).sum(axis=1)
        out[rows] = np.sqrt(dev2[rows] / n[rows])
    elif how == "median":
        srt = np.sort(np.where(valid, vals, np.inf), axis=1)
        idx = np.arange(nq)
        lo = np.maximum(n - 1, 0) // 2
        hi = n // 2
        med = (srt[idx, lo] + srt[idx, np.minimum(hi, vals.shape[1] - 1)]) / 2.0
        out[rows] = med[rows]
    elif how == "mode":
        u = np.unique(vals[valid])
        codes = np.searchsorted(u, vals)
        counts = np.zeros((nq, len(u)), dtype=np.int64)
        ridx = np.broadcast_to(np.arange(nq)[:, None], vals.shape)
        np.add.at(counts, (ridx[valid], codes[valid]), 1)
        # argmax picks the FIRST max → smallest value (u is sorted)
        out[rows] = u[counts.argmax(axis=1)[rows]]
    else:
        raise ValueError(f"summary must be one of {SUMMARIES}")
    return out


def knn_apply(
    apply_df: DataFrame,
    train_df: DataFrame,
    feat_cols: Sequence[str],
    val_col: str,
    id_col: str = "pt_id",
    k: int = 12,
    metric: str = "mahalanobis",
    summary: str = "median",
    dist_thres: float = np.inf,
) -> DataFrame:
    """Returns apply rows (id_col) + ``out_val`` (+``n_neigh``).

    Rows with no neighbour within dist_thres get null out_val (the
    reference leaves the RAT column at its init value)."""
    if metric not in METRICS:
        raise ValueError(f"metric must be one of {METRICS}")
    if summary not in SUMMARIES:
        raise ValueError(f"summary must be one of {SUMMARIES}")
    spark = apply_df.sparkSession
    from rsgislib_spark.qcommon import fenced_small_pdf

    tr = fenced_small_pdf(
        train_df.select(*dict.fromkeys([*feat_cols, val_col])),
        "knn_apply broadcast training set",
        "Use knn_features_bucketed (cell-bucketed scale path) instead.",
        max_rows=MAX_BROADCAST_TRAIN,
    )
    t_feats = tr[list(feat_cols)].to_numpy(np.float64)
    t_vals = tr[val_col].to_numpy(np.float64)
    vi = None
    if metric == "mahalanobis":
        cov = np.cov(t_feats, rowvar=False)
        cov = np.atleast_2d(cov)
        vi = np.linalg.pinv(cov)
    b = spark.sparkContext.broadcast((t_feats, t_vals, vi))

    src = apply_df.select(id_col, *feat_cols)
    schema = f"{id_col} long, out_val double, n_neigh int"

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tf, tv, vi_ = b.value
        for pdf in it:
            if not len(pdf):
                continue
            q = pdf[list(feat_cols)].to_numpy(np.float64)
            dm = _distances(q, tf, metric, 2.0, vi_)
            ids = pdf[id_col].to_numpy(np.int64)
            # top-k per row under threshold — fully vectorized: argpartition
            # narrows to kk candidates per row, the mask keeps in-threshold
            # ones, and the summaries reduce the (batch × kk) block at once
            kk = min(k, dm.shape[1])
            part = np.argpartition(dm, kk - 1, axis=1)[:, :kk]
            dd = np.take_along_axis(dm, part, axis=1)
            valid = dd < dist_thres
            vals = tv[part]
            out_val = _summarize_rows(vals, valid, summary)
            n_neigh = valid.sum(axis=1).astype(np.int32)
            yield pd.DataFrame({id_col: ids, "out_val": out_val, "n_neigh": n_neigh})

    return src.mapInPandas(_run, schema=schema)


def closest_point_join(
    base: DataFrame,
    match: DataFrame,
    tolerance: float = np.inf,
    base_id: str = "pt_id",
    match_id: str = "pt_id",
    strategy: str = "broadcast",
) -> DataFrame:
    """k=1 spatial join point→closest point.

    ``strategy="broadcast"`` (fast path, match side small) broadcasts the
    match table; ``strategy="bucketed"`` delegates to
    :func:`knn_points_bucketed` with k=1 — no broadcast, scale path.

    Output: base_id, closest_id (null when no match within tolerance),
    dist (NaN when no match — identical across both strategies). Ties
    broken by smallest match id (deviation from the reference, which
    raises — ``vectorutils/__init__.py:3428-3434``)."""
    if strategy == "bucketed":
        qdf = base.select(F.col(base_id).alias("pt_id"), "x", "y")
        tdf = match.select(F.col(match_id).alias("pt_id"), "x", "y")
        res = knn_points_bucketed(
            qdf, tdf, k=1, dist_thres=tolerance, exclude_self=False
        ).select(
            F.col("query_id").alias(base_id),
            F.col("nbr_id").alias("closest_id"),
            F.sqrt("d2").alias("dist"),
        )
        # beyond-tolerance rows: left join yields null dist — normalize to
        # NaN so both strategies emit the same (null closest_id, NaN dist)
        return (
            base.select(base_id)
            .join(res, base_id, "left")
            .withColumn("dist", F.coalesce(F.col("dist"), F.lit(float("nan"))))
        )
    spark = base.sparkSession
    from rsgislib_spark.qcommon import fenced_small_pdf

    m = fenced_small_pdf(
        match.select(match_id, "x", "y"),
        "closest_point_join broadcast match set",
        'Use strategy="bucketed" (knn_points_bucketed) instead.',
        max_rows=MAX_BROADCAST_TRAIN,
    )
    b = spark.sparkContext.broadcast(
        (m[match_id].to_numpy(np.int64), m["x"].to_numpy(np.float64), m["y"].to_numpy(np.float64))
    )
    schema = f"{base_id} long, closest_id long, dist double"
    src = base.select(base_id, "x", "y")

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mid, mx, my = b.value
        # deterministic tie-break: pre-sort by id so argmin picks smallest
        order = np.argsort(mid, kind="stable")
        mid_s, mx_s, my_s = mid[order], mx[order], my[order]
        for pdf in it:
            if not len(pdf):
                continue
            qx = pdf["x"].to_numpy(np.float64)
            qy = pdf["y"].to_numpy(np.float64)
            d2 = (qx[:, None] - mx_s[None, :]) ** 2 + (qy[:, None] - my_s[None, :]) ** 2
            j = np.argmin(d2, axis=1)
            dist = np.sqrt(d2[np.arange(len(qx)), j])
            cid = mid_s[j].astype(np.float64)
            bad = dist >= tolerance
            cid[bad] = np.nan
            out = pd.DataFrame(
                {
                    base_id: pdf[base_id].to_numpy(np.int64),
                    "closest_id": pd.array(
                        np.where(bad, None, mid_s[j]), dtype="Int64"
                    ),
                    "dist": np.where(bad, np.nan, dist),
                }
            )
            yield out

    return src.mapInPandas(_run, schema=schema)


def radius_count(points: DataFrame, radius: float, id_col: str = "pt_id") -> DataFrame:
    """Count of OTHER points within ``radius`` of each point — reference
    ``calc_npts_in_radius`` (``vectorattrs/__init__.py:997-1049``, KDTree
    ball query minus self)."""
    spark = points.sparkSession
    from rsgislib_spark.qcommon import fenced_small_pdf

    p = fenced_small_pdf(
        points.select(id_col, "x", "y"),
        "radius_count broadcast point set",
        "Use radius_count_bucketed (cell equi-join scale path) instead.",
        max_rows=MAX_BROADCAST_TRAIN,
    )
    b = spark.sparkContext.broadcast(
        (p["x"].to_numpy(np.float64), p["y"].to_numpy(np.float64))
    )
    schema = f"{id_col} long, n_in_radius long"
    src = points.select(id_col, "x", "y")
    r2 = radius * radius

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ax, ay = b.value
        for pdf in it:
            if not len(pdf):
                continue
            qx = pdf["x"].to_numpy(np.float64)
            qy = pdf["y"].to_numpy(np.float64)
            d2 = (qx[:, None] - ax[None, :]) ** 2 + (qy[:, None] - ay[None, :]) ** 2
            n = (d2 <= r2).sum(axis=1) - 1  # minus self
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(np.int64), "n_in_radius": n})

    return src.mapInPandas(_run, schema=schema)
