"""Zonal aggregation — the reference's rasterGIS/zonalstats core.

Two operators:

 - :func:`segment_stats` — per-segment (clump) stats from a label grid:
   ``populate_rat_with_stats`` (binding ``python/src/rastergis.cpp:1740-1766``,
   impl ``src/rastergis/RSGISPopRATWithStats.cpp:59-470``). The reference
   does a streaming sum/count pass plus a second pass for stddev; Spark's
   partial+final hash aggregation replaces both with one pass (sum/sumsq).

 - :func:`zonal_band_stats` — polygon zonal attribution:
   ``calc_zonal_band_stats`` (``python/rsgislib/zonalstats/__init__.py:167-523``):
   per polygon, pixels whose CENTER falls inside the polygon (inclusion
   method "polyContainsPixelCenter", the hybrid default at ``:878-1321``),
   masked by [min_thres, max_thres] and no-data, aggregated
   min/max/mean/stddev/sum/count. No-valid-pixels ⇒ nulls
   (reference fills out_no_data, ``:477-499``).

Physical shape: one Arrow pass over images emits PARTIAL aggregates
(zone, count, sum, sumsq, min, max) — the map-side combine — then a
tiny ``groupBy(zone).agg`` finalizes. Pixel payloads never shuffle;
only O(zones) partial rows do. Binary payload columns cross the Python
boundary via ``kernels.arrowmap.arrow_map`` (zero-copy buffer slices) —
the repo's Arrow-boundary rule: ``mapInPandas`` on a bytes column
materializes per-row Python objects (measured 4.4× slower end-to-end on
the decode bench).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window as W, functions as F

from rsgislib_spark.datagen import PIXEL_SIZE
from rsgislib_spark.kernels import codecs, geom, pixelmath
from rsgislib_spark.kernels.arrowmap import arrow_map, concat_columns
from rsgislib_spark.operators.spatial_join import ZoneIndex
#: Driver fence for the broadcast side (fenced_small_pdf) — patchable in tests.
MAX_BROADCAST_ZONES = 500_000


_PARTIAL_SCHEMA = (
    "zone_id long, n long, s double, ss double, mn double, mx double"
)


def _finalize(partials: DataFrame) -> DataFrame:
    """Combine partial (n, s, ss, mn, mx) into the reference's stat set."""
    agg = partials.groupBy("zone_id").agg(
        F.sum("n").alias("count"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
        F.min("mn").alias("min"),
        F.max("mx").alias("max"),
    )
    mean = F.col("s") / F.col("count")
    # population stddev (the reference computes sqrt(sum((x-mean)^2)/n):
    # RSGISPopRATWithStats.cpp second pass)
    var = F.col("ss") / F.col("count") - mean * mean
    return agg.select(
        "zone_id",
        F.col("count"),
        F.col("min"),
        F.col("max"),
        mean.alias("mean"),
        F.col("s").alias("sum"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("stddev"),
    )


def segment_stats(images: DataFrame, segments: DataFrame) -> DataFrame:
    """Per-(image, segment) pixel stats — RAT ``populate_rat_with_stats``.

    Output key is the composite (image_id, zone) exposed as
    ``image_id string, zone int`` plus Min/Max/Mean/Sum/StdDev/count —
    the RAT column set of ``python_tests/test_rastergis.py:30-36``.
    """
    joined = images.select("image_id", "bytes", "w", "h", "fmt").join(
        segments.select("image_id", "seg_bytes"), "image_id", "inner"
    )
    schema = (
        "image_id string, zone int, n long, s double, ss double, "
        "mn double, mx double"
    )

    def _partial(cols):
        ids, views, fmts, seg_views = cols["image_id"], cols["bytes"], cols["fmt"], cols["seg_bytes"]
        outs = []
        for k in range(len(ids)):
            h, w = int(cols["h"][k]), int(cols["w"][k])
            img = (
                codecs.decode_image(views[k], fmts[k], h, w)
                .astype(np.float64)
                .ravel()
            )
            lab = np.frombuffer(seg_views[k], dtype=np.int32, count=h * w)
            nz = int(lab.max()) + 1
            cnt = np.bincount(lab, minlength=nz)
            s = np.bincount(lab, weights=img, minlength=nz)
            ss = np.bincount(lab, weights=img * img, minlength=nz)
            sorted_vals = img[np.argsort(lab, kind="stable")]
            keep = cnt > 0
            # non-empty segment starts are strictly increasing, so each
            # reduceat span is exactly one segment's values
            starts = (np.cumsum(cnt) - cnt)[keep]
            outs.append({
                "image_id": [ids[k]] * int(keep.sum()),
                "zone": np.arange(nz, dtype=np.int32)[keep],
                "n": cnt[keep], "s": s[keep], "ss": ss[keep],
                "mn": np.minimum.reduceat(sorted_vals, starts),
                "mx": np.maximum.reduceat(sorted_vals, starts),
            })
        return concat_columns(outs)

    partials = arrow_map(joined, _partial, schema)
    mean = F.col("s") / F.col("n")
    var = F.col("ss") / F.col("n") - mean * mean
    # one partial row per (image, zone) already — finalize per composite key
    return partials.select(
        "image_id",
        "zone",
        F.col("n").alias("count"),
        F.col("mn").alias("min"),
        F.col("mx").alias("max"),
        mean.alias("mean"),
        F.col("s").alias("sum"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("stddev"),
    )


def segment_histogram(images: DataFrame, segments: DataFrame) -> DataFrame:
    """Per-(image, segment, value) pixel counts — the exact-histogram path
    used for mode/median parity (``populate_rat_with_mode``,
    ``rastergis.cpp:1807-1821``; reference approximates with 200-bin
    histograms, ``RSGISPopRATWithStats.cpp:1040-1130``)."""
    joined = images.select("image_id", "bytes", "w", "h", "fmt").join(
        segments.select("image_id", "seg_bytes"), "image_id", "inner"
    )
    schema = "image_id string, zone int, value int, cnt long"

    def _hist(cols):
        ids, views, fmts, seg_views = cols["image_id"], cols["bytes"], cols["fmt"], cols["seg_bytes"]
        outs = []
        for k in range(len(ids)):
            h, w = int(cols["h"][k]), int(cols["w"][k])
            img = codecs.decode_image(views[k], fmts[k], h, w).ravel().astype(np.int64)
            lab = np.frombuffer(seg_views[k], dtype=np.int32, count=h * w).astype(np.int64)
            uniq, cnt = np.unique(lab * 256 + img, return_counts=True)
            outs.append({"image_id": [ids[k]] * len(uniq), "zone": uniq // 256,
                         "value": uniq % 256, "cnt": cnt})
        return concat_columns(outs)

    return arrow_map(joined, _hist, schema)


def segment_mode(images: DataFrame, segments: DataFrame) -> DataFrame:
    """Per-(image, segment) modal pixel value; ties → smallest value
    (deterministic; the reference's histogram scan picks the first bin)."""
    hist = segment_histogram(images, segments)
    win = W.partitionBy("image_id", "zone").orderBy(
        F.desc("cnt"), F.asc("value")
    )
    return (
        hist.withColumn("rn", F.row_number().over(win))
        .filter("rn = 1")
        .select("image_id", "zone", F.col("value").alias("mode"))
    )


def _zone_pixel_map(
    images: DataFrame,
    zones: DataFrame,
    fold,
    schema: str,
    no_data_val: float | None,
    pixel_size: float,
    dtype,
) -> DataFrame:
    """The polygon zone-pixel selection both polygon zonal operators
    share: zones are collected (fenced) and broadcast as a ZoneIndex; one
    Arrow pass over ``images`` hands ``fold`` an iterator of
    ``(zone_id, vals)`` — per (image, candidate zone), the ``dtype``
    values of the pixels whose CENTRE falls inside the polygon, within the
    reference's envelope window (``pixelmath.zonal_window``), no-data
    dropped, never empty — and ``fold`` returns that batch's output
    columns (or None) under ``schema``."""
    from rsgislib_spark.qcommon import fenced_small_pdf

    zones_pdf = fenced_small_pdf(
        zones.select("zone_id", "geometry"),
        "zonal broadcast zone index",
        "Bucket zones to cells and aggregate per cell instead.",
        max_rows=MAX_BROADCAST_ZONES,
    )
    zindex_b = images.sparkSession.sparkContext.broadcast(ZoneIndex.from_pandas(zones_pdf))
    src = images.select("bytes", "w", "h", "fmt", "minx", "miny")

    def _pixels(cols):
        zx: ZoneIndex = zindex_b.value
        views, ws, hs, fmts, minxs, minys = (
            cols[c] for c in ("bytes", "w", "h", "fmt", "minx", "miny")
        )
        for k in range(len(views)):
            h, w = int(hs[k]), int(ws[k])
            minx, miny = float(minxs[k]), float(minys[k])
            maxy = miny + h * pixel_size
            maxx = minx + w * pixel_size
            _, zi = zx.tree.query(np.array([[minx, miny, maxx, maxy]]))
            if len(zi) == 0:
                continue
            img = codecs.decode_image(views[k], fmts[k], h, w)
            for z in zi:
                zb = zx.bboxes[z]
                # envelope → pixel window with the reference's rule
                x1, y1, xs, ys, have = pixelmath.zonal_window(
                    [zb[0]], [zb[2]], [zb[1]], [zb[3]],
                    minx, maxy, pixel_size, pixel_size, w, h,
                )
                if not have[0]:
                    continue
                x1_, y1_, xs_, ys_ = int(x1[0]), int(y1[0]), int(xs[0]), int(ys[0])
                sub = img[y1_ : y1_ + ys_, x1_ : x1_ + xs_]
                # pixel centers of the window
                pcx = minx + (np.arange(x1_, x1_ + xs_) + 0.5) * pixel_size
                pcy = maxy - (np.arange(y1_, y1_ + ys_) + 0.5) * pixel_size
                gx, gy = np.meshgrid(pcx, pcy)
                mask = geom.points_in_polygon(gx.ravel(), gy.ravel(), zx.rings[z])
                vals = sub[mask.reshape(sub.shape)].astype(dtype)
                if no_data_val is not None:
                    vals = vals[vals != no_data_val]
                if vals.size:
                    yield int(zx.zone_ids[z]), vals

    return arrow_map(src, lambda cols: fold(_pixels(cols)), schema)


def zonal_band_stats(
    images: DataFrame,
    zones: DataFrame,
    min_thres: float = -np.inf,
    max_thres: float = np.inf,
    no_data_val: float | None = None,
    pixel_size: float = PIXEL_SIZE,
) -> DataFrame:
    """Polygon zonal stats over image pixels (pixel-center-in-polygon).

    zones broadcast as a ZoneIndex; a single image pass emits per-zone
    partials. Returns zone_id + count/min/max/mean/sum/stddev (null stats
    for zones with zero valid pixels — the reference's no-data fill rule).
    """

    def _partial(pixels):
        acc = {}
        for zid, vals in pixels:
            vals = vals[(vals >= min_thres) & (vals <= max_thres)]
            if vals.size == 0:
                continue
            a = acc.get(zid)
            stat = (
                vals.size, float(vals.sum()), float((vals * vals).sum()),
                float(vals.min()), float(vals.max()),
            )
            if a is None:
                acc[zid] = list(stat)
            else:
                a[0] += stat[0]
                a[1] += stat[1]
                a[2] += stat[2]
                a[3] = min(a[3], stat[3])
                a[4] = max(a[4], stat[4])
        if not acc:
            return None
        zids = sorted(acc)
        return {"zone_id": zids, **{
            c: [acc[z][i] for z in zids] for i, c in enumerate(("n", "s", "ss", "mn", "mx"))
        }}

    partials = _zone_pixel_map(
        images, zones, _partial, _PARTIAL_SCHEMA, no_data_val, pixel_size, np.float64
    )
    return _finalize(partials)


def _cumulative_counts(hist: DataFrame, key_cols: list, value_col: str, cnt_col: str) -> DataFrame:
    """``hist`` plus, per key, ``cum`` — the running count in ascending
    value order — and ``n`` — the key's total count: the cumulative
    histogram the order-statistic readers below select from."""
    wcum = W.partitionBy(*key_cols).orderBy(F.asc(value_col)).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return hist.withColumn("cum", F.sum(cnt_col).over(wcum)).withColumn(
        "n", F.sum(cnt_col).over(W.partitionBy(*key_cols))
    )


def mode_median_from_histogram(
    hist: DataFrame,
    key_cols: list,
    value_col: str = "value",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Exact mode + median from per-key value histograms (small-int
    pixel values → 256 bins exact; the reference approximates both with
    fixed-bin histograms, RSGISPopRATWithStats.cpp:512,1068 — ours are
    exact because the value domain is the bin domain).

    Mode ties → smallest value. Median = numpy convention (mean of the
    two middle order statistics for even counts), computed from the
    cumulative histogram: lo = value at position (n+1)//2, hi = value at
    position n//2 + 1 (1-based). Returns key_cols + n_px, mode, median.
    """
    cum = _cumulative_counts(hist, key_cols, value_col, cnt_col)
    lo = (
        # Integer rank (n+1)//2, matching the DuckDB oracle's (n_px+1)//2 —
        # double division (n+1)/2 would give e.g. 2.5 for n=4 and select the
        # upper-middle order statistic instead of the lower one.
        cum.filter(F.col("cum") >= F.floor((F.col("n") + F.lit(1)) / F.lit(2)))
        .groupBy(*key_cols)
        .agg(F.min(value_col).alias("vlo"))
    )
    hi = (
        cum.filter(F.col("cum") >= F.floor(F.col("n") / 2) + 1)
        .groupBy(*key_cols)
        .agg(F.min(value_col).alias("vhi"))
    )
    wmode = W.partitionBy(*key_cols).orderBy(F.desc(cnt_col), F.asc(value_col))
    md = (
        hist.withColumn("rn", F.row_number().over(wmode))
        .filter("rn = 1")
        .select(*key_cols, F.col(value_col).alias("mode"))
    )
    tot = hist.groupBy(*key_cols).agg(F.sum(cnt_col).alias("n_px"))
    return (
        tot.join(md, key_cols)
        .join(lo, key_cols)
        .join(hi, key_cols)
        .select(
            *key_cols,
            "n_px",
            "mode",
            F.round((F.col("vlo") + F.col("vhi")) / 2.0, 1).alias("median"),
        )
    )


def percentiles_from_histogram(
    hist: DataFrame,
    key_cols: list,
    ps: tuple = (0.25, 0.75),
    value_col: str = "value",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Exact per-key percentiles from value histograms — the exact
    analogue of ``populate_rat_with_percentiles`` (binding
    rastergis.cpp:1767-1791; impl RSGISPopRATWithStats.cpp:473-560,
    histogram fill :512, percentile from bins :536). The reference uses
    200 fixed bins (approximate by design); ours is exact because the
    small-int value domain IS the bin domain.

    Convention: inverted CDF (type-1) — percentile p is the smallest
    value whose cumulative count reaches ceil(p·n). Integer-exact, so
    the DuckDB oracle reproduces it bit-for-bit. Returns key_cols +
    n_px + one p{NN} column per requested percentile."""
    cum = _cumulative_counts(hist, key_cols, value_col, cnt_col)
    from fractions import Fraction

    out = hist.groupBy(*key_cols).agg(F.sum(cnt_col).alias("n_px"))
    for p in ps:
        name = f"p{int(round(p * 100)):02d}"
        # Rank in INTEGER arithmetic: p as an exact small rational num/den,
        # rank = ceil(p·n) = (num·n + den − 1) div den. Double arithmetic
        # (ceil(float(p)·n)) is off by one for non-dyadic p (e.g. p=0.1,
        # n=110 → 11.000000000000002 → ceil 12).
        frac = Fraction(p).limit_denominator(1_000_000)
        num, den = frac.numerator, frac.denominator
        rank = F.expr(f"({num}L * n + {den - 1}L) div {den}L")
        sel = (
            cum.filter(F.col("cum") >= rank)
            .groupBy(*key_cols)
            .agg(F.min(value_col).alias(name))
        )
        out = out.join(sel, key_cols)
    return out


def zonal_band_mode_median(
    images: DataFrame,
    zones: DataFrame,
    no_data_val: float | None = None,
    pixel_size: float = PIXEL_SIZE,
) -> DataFrame:
    """Per-polygon MODE and MEDIAN of pixel values (pixel-center
    inclusion) — the mode/median half of ``calc_zonal_band_stats``
    (zonalstats/__init__.py:449-476; golden test
    python_tests/test_zonalstats.py:108-1056) that the moment-stats
    operator doesn't cover. Partials are per-(zone, value) histogram
    counts — 256 rows per zone max — so the shuffle stays O(zones·256)
    regardless of pixel count."""

    def _hist(pixels):
        acc: dict = {}
        for zid, vals in pixels:
            counts = np.bincount(vals, minlength=256)
            prev = acc.get(zid)
            acc[zid] = counts if prev is None else prev + counts
        if not acc:
            return None
        zids = sorted(acc)
        nz = [np.flatnonzero(acc[z]) for z in zids]
        return {
            "zone_id": np.repeat(zids, [len(v) for v in nz]),
            "value": np.concatenate(nz),
            "cnt": np.concatenate([acc[z][v] for z, v in zip(zids, nz)]),
        }

    partial = _zone_pixel_map(
        images, zones, _hist, "zone_id long, value int, cnt long",
        no_data_val, pixel_size, np.int64,
    )
    hist = partial.groupBy("zone_id", "value").agg(F.sum("cnt").alias("cnt"))
    return mode_median_from_histogram(hist, ["zone_id"])
