"""The north-star pipeline: spatial-join + tiling over the image table,
end to end — the job the BASELINE.json metric (images/sec, N→4N scaling
efficiency ≥ 0.8) is measured on.

Stages (all DataFrame-declarative; Catalyst plans them):
 1. footprints    — derive (minx,miny,maxx,maxy) per image; column exprs
 2. spatial join  — images × zone polygons, broadcast STRtree refine
                    (perform_spatial_join semantics, vectorutils:2159-2225);
                    zero shuffle of the image side
 3. tiling + tile kernels — cut each image into fixed tiles + remainders
                    (create_tiles semantics, imageutils.cpp:2061-2093) with
                    the per-pixel compute fused in: band synthesis, focal
                    sum/count (integral image), per-tile block reductions
                    via ufunc.reduceat — one whole-image numpy pass, no
                    per-tile Python loop, no pixel payload shuffle
 4. zonal rollup  — per-zone aggregation of tile stats through the join
                    (populate_rat_with_stats, rastergis.cpp:1740-1766)

Scale design: the image side partitions by range on image_key (uniform);
the zone side broadcasts (small by construction). The only shuffles move
per-image/per-tile STATS rows (9 small columns), never pixels. Driver
work is O(|zones|) pandas — no extra Spark jobs before the main one.

``replicate=R`` multiplies the image side R× with distinct keys (pixel
content differs per replica) — the sandbox stand-in for the 10^12-row
table when measuring scaling, since fixed planning cost must be amortized
exactly as it is on a real cluster.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from rsgislib_spark.kernels import geom
from rsgislib_spark.kernels.arrowmap import arrow_map

TILE = 96


# ------------------------------------------------------------ zone prep

#: Driver fence for the zone rectangles built by :func:`load_zones_pdf`
#: (mirrors operators.zonal.MAX_BROADCAST_ZONES) — patchable in tests.
MAX_BROADCAST_ZONES = 500_000


def load_zones_pdf(sf_dir: str) -> pd.DataFrame:
    """Zone rectangles (GEO_ZONES derivation, queries.py) built directly
    from the supplier parquet with pandas — keeps driver-side prep off
    the Spark scheduler (it was a measurable fixed cost per job). The
    row count is checked first from the parquet footers (no Spark job,
    no column read) against :data:`MAX_BROADCAST_ZONES`."""
    import pyarrow.dataset as ds

    path = f"{sf_dir}/supplier.parquet"
    n = ds.dataset(path, format="parquet").count_rows()
    if n > MAX_BROADCAST_ZONES:
        raise ValueError(
            f"pipeline zone index would build {n} zone polygons on the driver "
            f"(max_rows={MAX_BROADCAST_ZONES}). Bucket zones to cells and "
            "aggregate per cell instead (operators.spatial_join.spatial_join_cells)."
        )
    s = pd.read_parquet(path, columns=["s_suppkey"])["s_suppkey"].to_numpy(np.int64)
    zminx = np.where(s % 10 == 0, 45000 + (s % 7) * 100, (s * 7919) % 90000).astype(
        np.float64
    ) + 0.25
    zminy = np.where(
        s % 10 == 0, 45000 + ((s * 3) % 7) * 100, (s * 104729) % 90000
    ).astype(np.float64) + 0.25
    zw = 2000 + (s % 12) * 1500
    zh = 2000 + ((s * 5) % 12) * 1500
    zmaxx = zminx + zw
    zmaxy = zminy + zh
    wkbs = [
        geom.polygon_to_wkb(
            [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])]
        )
        for x0, y0, x1, y1 in zip(zminx, zminy, zmaxx, zmaxy)
    ]
    return pd.DataFrame({"zone_id": s, "geometry": wkbs})


# ------------------------------------------------------ image derivation

def images_df(spark: SparkSession, sf_dir: str, replicate: int = 1) -> DataFrame:
    """Footprint columns from the part table (GEO_IMAGES derivation) as
    pure column expressions — pushdown-friendly, codegen'd."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey")
    k = F.col("p_partkey")
    minx = F.when(k % 5 == 0, 50000 + (k % 97) * 10).otherwise((k * 9973) % 99000)
    miny = F.when(k % 5 == 0, 50000 + ((k * 3) % 97) * 10).otherwise((k * 6151) % 99000)
    w = (64 + (k % 4) * 64).cast("int")
    h = (64 + ((k * 7) % 4) * 64).cast("int")
    d = p.select(
        k.alias("base_key"),
        minx.cast("double").alias("minx"),
        miny.cast("double").alias("miny"),
        (minx + w * 10).cast("double").alias("maxx"),
        (miny + h * 10).cast("double").alias("maxy"),
        w.alias("w"),
        h.alias("h"),
    )
    if replicate > 1:
        d = d.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))))
    else:
        d = d.withColumn("rep", F.lit(0))
    return d.select(
        (F.col("base_key") * replicate + F.col("rep")).alias("image_key"),
        "minx", "miny", "maxx", "maxy", "w", "h",
    )


# ------------------------------------------------------- fused tile stage

CHUNK = 8  # images per kernel invocation: keeps int16 temporaries (~2·h·w·2B·CHUNK)
# inside per-core L2 so the kernel stays cache-resident — at CHUNK=64 the
# arrays stream DRAM and the 32-core node hits its bandwidth ceiling
# (measured: aggregate throughput capped ~1.7x from 8→32 cores)


def lattice_grid(keys: np.ndarray, w: int, h: int) -> np.ndarray:
    """The synthetic band grid (image_key·7 + x·13 + y·17) mod 251 for a
    chunk of same-shape images, as (m, h, w) uint8. The per-pixel modulo
    is replaced by a conditional subtract: both addends are pre-reduced
    mod 251, so their sum is < 502 and one masked subtract restores the
    residue — 2× faster than int16 ``%`` (integer division) per pixel.

    The x·13 + y·17 products are formed in int32 (w·13 + h·17 would wrap
    int16 negative from w,h ≈ 2521, and the ``%`` of the wrapped value is
    a silently wrong residue); the reduced xym fits int16 for the
    subsequent chunk arrays."""
    xym = (
        (
            (np.arange(w, dtype=np.int32) * 13)
            + (np.arange(h, dtype=np.int32) * 17)[:, None]
        )
        % 251
    ).astype(np.int16)
    k7 = ((keys.astype(np.int64) * 7) % 251).astype(np.int16)
    g = k7[:, None, None] + xym
    np.subtract(g, 251, out=g, where=g >= 251)
    return g.astype(np.uint8)


def _tile_stats_chunk(keys: np.ndarray, w: int, h: int, tile: int, radius: int):
    """Per-tile stats for a CHUNK of same-shape images in one 3-D numpy
    pass. int32 throughout (values bounded: pixel < 251, tile sum <
    251·96² < 2³¹, focal window sum < 251·9) — halves memory traffic vs
    int64, which is what bounds this kernel on a full node."""
    m = len(keys)
    grid = lattice_grid(keys, w, h)  # (m, h, w)

    y0 = np.clip(np.arange(h) - radius, 0, h)
    y1 = np.clip(np.arange(h) + radius + 1, 0, h)
    x0 = np.clip(np.arange(w) - radius, 0, w)
    x1 = np.clip(np.arange(w) + radius + 1, 0, w)
    if radius == 1 and h >= 3 and w >= 3:
        # separable 3-term box sums, edges as 2-term sums (the clipped-
        # window rule); int16 partials, no pad copies — this kernel is
        # memory-bandwidth bound on a full node, so every byte/px counts
        row = np.empty((m, h, w), dtype=np.int16)
        g16 = grid.astype(np.int16)  # one widened copy reused 3×
        np.add(g16[:, :, :-2], g16[:, :, 1:-1], out=row[:, :, 1:-1])
        np.add(row[:, :, 1:-1], g16[:, :, 2:], out=row[:, :, 1:-1])
        np.add(g16[:, :, 0], g16[:, :, 1], out=row[:, :, 0])
        np.add(g16[:, :, -2], g16[:, :, -1], out=row[:, :, -1])
        fs = np.empty((m, h, w), dtype=np.int16)
        np.add(row[:, :-2], row[:, 1:-1], out=fs[:, 1:-1])
        np.add(fs[:, 1:-1], row[:, 2:], out=fs[:, 1:-1])
        np.add(row[:, 0], row[:, 1], out=fs[:, 0])
        np.add(row[:, -2], row[:, -1], out=fs[:, -1])
    else:
        s = np.zeros((m, h + 1, w + 1), dtype=np.int32)
        np.cumsum(np.cumsum(grid, axis=1, dtype=np.int32), axis=2, out=s[:, 1:, 1:])
        Y0, X0 = np.ix_(y0, x0)
        Y1, X1 = np.ix_(y1, x1)
        fs = s[:, Y1, X1] - s[:, Y0, X1] - s[:, Y1, X0] + s[:, Y0, X0]
    fc2d = np.outer(y1 - y0, x1 - x0).astype(np.int64)

    xs = np.arange(0, w, tile)
    ys = np.arange(0, h, tile)

    def blocks(a, uf=np.add):
        # accumulate in int64 WITHOUT materializing a widened copy
        dt = np.int64 if uf is np.add else None
        return uf.reduceat(uf.reduceat(a, ys, axis=1, dtype=dt), xs, axis=2, dtype=dt)

    tw = np.diff(np.append(xs, w))
    th = np.diff(np.append(ys, h))
    ntx, nty = len(xs), len(ys)
    txg, tyg = np.meshgrid(np.arange(ntx, dtype=np.int32) + 1,
                           np.arange(nty, dtype=np.int32) + 1)
    nt = ntx * nty
    fcnt2d = np.add.reduceat(np.add.reduceat(fc2d, ys, axis=0), xs, axis=1)
    return {
        "image_key": np.repeat(keys, nt),
        "tile_x": np.tile(txg.ravel(), m),
        "tile_y": np.tile(tyg.ravel(), m),
        "n_px": np.tile(np.outer(th, tw).ravel().astype(np.int64), m),
        "sum_v": blocks(grid).reshape(-1).astype(np.int64),
        "min_v": blocks(grid, np.minimum).reshape(-1).astype(np.int64),
        "max_v": blocks(grid, np.maximum).reshape(-1).astype(np.int64),
        "focal_sum": blocks(fs).reshape(-1).astype(np.int64),
        "focal_cnt": np.tile(fcnt2d.ravel(), m),
    }


def _shape_chunks(ws: np.ndarray, hs: np.ndarray, tiebreak: np.ndarray):
    """The one shape-group/CHUNK loop of every kernel here: row indices
    ordered by (w, h, tiebreak), cut into runs of one image shape and
    each run into CHUNK-sized ``(idx, w, h)`` slices — a same-shape
    stack is what the 3-D numpy kernels need."""
    order = np.lexsort((tiebreak, hs, ws))
    sw, sh = ws[order], hs[order]
    cuts = np.flatnonzero((sw[1:] != sw[:-1]) | (sh[1:] != sh[:-1])) + 1
    bounds = np.r_[0, cuts, len(order)]
    for i, j in zip(bounds[:-1], bounds[1:]):
        w, h = int(sw[i]), int(sh[i])
        for c0 in range(i, j, CHUNK):
            yield order[c0 : min(c0 + CHUNK, j)], w, h


def _lattice(keys: np.ndarray):
    """Grid source of the synthetic path: the band lattice of the keys."""
    return lambda idx, w, h: lattice_grid(keys[idx], w, h)


def tile_stats_df(images: DataFrame, tile: int = TILE, radius: int = 1) -> DataFrame:
    """Stage 3: tiler UDTF with pixel kernels fused. Images are grouped by
    shape and processed CHUNK at a time in a single 3-D numpy pass:
    synth band grid → integral-image focal sums → per-tile block
    reductions with ``ufunc.reduceat`` at the tile boundaries (full +
    remainder tiles, create_tiles semantics). Emits per-tile stats rows
    only — pixels never leave the task."""

    def _run(cols):
        keys = cols["image_key"]
        frames = [
            _tile_stats_chunk(keys[idx], w, h, tile, radius)
            for idx, w, h in _shape_chunks(cols["w"], cols["h"], keys)
        ]
        return {c: np.concatenate([f[c] for f in frames]) for c in frames[0]}

    schema = (
        "image_key long, tile_x int, tile_y int, n_px long, sum_v long, "
        "min_v long, max_v long, focal_sum long, focal_cnt long"
    )
    return arrow_map(images.select("image_key", "w", "h"), _run, schema)


def _stats_from_grid(grid: np.ndarray, radius: int) -> dict:
    """Whole-image band + focal reductions over a (m, h, w) uint8 pixel
    stack — the per-tile → per-image rollup of :func:`_tile_stats_chunk`
    fused away algebraically (Σ over tiles of tile-sums ≡ whole-image
    sum), so no reduceat/tile assembly runs at all. The grid comes from
    the synthetic lattice or from payloads decoded by kernels.codecs."""
    m, h, w = grid.shape

    row = np.empty((m, h, w), dtype=np.int16)
    g16 = grid.astype(np.int16)
    np.add(g16[:, :, :-2], g16[:, :, 1:-1], out=row[:, :, 1:-1])
    np.add(row[:, :, 1:-1], g16[:, :, 2:], out=row[:, :, 1:-1])
    np.add(g16[:, :, 0], g16[:, :, 1], out=row[:, :, 0])
    np.add(g16[:, :, -2], g16[:, :, -1], out=row[:, :, -1])
    fs = np.empty((m, h, w), dtype=np.int16)
    np.add(row[:, :-2], row[:, 1:-1], out=fs[:, 1:-1])
    np.add(fs[:, 1:-1], row[:, 2:], out=fs[:, 1:-1])
    np.add(row[:, 0], row[:, 1], out=fs[:, 0])
    np.add(row[:, -2], row[:, -1], out=fs[:, -1])

    cx = np.full(w, 2 * radius + 1, dtype=np.int64)
    cx[:radius] = cx[-radius:] = 2 * radius
    cy = np.full(h, 2 * radius + 1, dtype=np.int64)
    cy[:radius] = cy[-radius:] = 2 * radius
    return {
        "sum_v": grid.sum(axis=(1, 2), dtype=np.int64),
        "min_v": grid.min(axis=(1, 2)).astype(np.int64),
        "max_v": grid.max(axis=(1, 2)).astype(np.int64),
        "focal_sum": fs.sum(axis=(1, 2), dtype=np.int64),
        "focal_cnt": int(cy.sum() * cx.sum()),
    }


STAT_COLS = ["n_tiles", "n_px", "sum_v", "min_v", "max_v", "focal_sum", "focal_cnt"]


def _image_stats(ws, hs, tiebreak, grid_of, tile: int, radius: int = 1) -> dict:
    """Per-image STAT_COLS in input row order: the shape-group/CHUNK loop
    feeding ``grid_of(idx, w, h)`` stacks to :func:`_stats_from_grid`."""
    n = len(ws)
    st = {c: np.empty(n, np.int64) for c in STAT_COLS}
    for idx, w, h in _shape_chunks(ws, hs, tiebreak):
        for c, v in _stats_from_grid(grid_of(idx, w, h), radius).items():
            st[c][idx] = v
        st["n_tiles"][idx] = -(-w // tile) * -(-h // tile)
        st["n_px"][idx] = w * h
    return st


def image_stats_df(images: DataFrame, tile: int = TILE, radius: int = 1) -> DataFrame:
    """Fused tiler + kernels + per-image reduction: only ONE stats row
    per image reaches the Arrow boundary (640k rows instead of ~5.5M
    tile rows at replicate 32). Footprint columns pass through for the
    zonal match."""
    if radius != 1:
        raise ValueError("fused image stats kernel supports radius=1")

    def _run(cols):
        keys = cols["image_key"]
        return {**cols, **_image_stats(cols["w"], cols["h"], keys, _lattice(keys), tile)}

    schema = (
        "image_key long, minx double, miny double, maxx double, maxy double, "
        "n_tiles long, n_px long, sum_v long, min_v long, max_v long, "
        "focal_sum long, focal_cnt long"
    )
    return arrow_map(
        images.select("image_key", "w", "h", "minx", "miny", "maxx", "maxy"), _run, schema
    )


# ------------------------------------------------------------- zonal rollup

PARTIAL_SCHEMA = (
    "zone_id long, n_images long, n_tiles long, n_px long, sum_v long, "
    "min_v long, max_v long, focal_sum long, focal_cnt long"
)


def _zone_partials(zx, rects: np.ndarray, st: dict) -> dict | None:
    """Map-side spatial match + PARTIAL per-zone aggregation: the
    image×zone pair list is never materialized or shuffled; each task
    emits ≤|zones| partial rows and only those shuffle to the final
    groupBy — aggregation pushdown through the spatial join, the shape
    that keeps the 10^12-image job's shuffle O(tasks × zones)."""
    qi, zi = zx.match(rects, "intersects")
    if not len(qi):
        return None
    o = np.argsort(zi, kind="stable")
    zs, q = zi[o], qi[o]
    starts = np.flatnonzero(np.r_[True, zs[1:] != zs[:-1]])
    out = {"zone_id": zx.zone_ids[zs[starts]], "n_images": np.diff(np.r_[starts, len(zs)])}
    for c in ("n_tiles", "n_px", "sum_v", "focal_sum", "focal_cnt"):
        out[c] = np.add.reduceat(st[c][q], starts)
    out["min_v"] = np.minimum.reduceat(st["min_v"][q], starts)
    out["max_v"] = np.maximum.reduceat(st["max_v"][q], starts)
    return out


def _zone_rollup(partials: DataFrame) -> DataFrame:
    """Final per-zone aggregate over the map-side partials."""
    return partials.groupBy("zone_id").agg(
        F.sum("n_images").alias("n_images"),
        F.sum("n_tiles").alias("n_tiles"),
        F.sum("n_px").alias("n_px"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
        F.round(F.sum("focal_sum") / F.sum("focal_cnt"), 6).alias("mean_focal"),
    )


# ------------------------------------------------------------- pipeline

def _derive_footprints(keys: np.ndarray, replicate: int):
    """Vectorized in-kernel footprint derivation (same GEO_IMAGES
    formulas as :func:`images_df`) so only the 8-byte image_key crosses
    the JVM→Python Arrow boundary — the JVM feeder threads share cores
    with the Python workers in local mode, so feed bytes are wall time."""
    base = keys // replicate
    minx = np.where(base % 5 == 0, 50000 + (base % 97) * 10, (base * 9973) % 99000)
    miny = np.where(base % 5 == 0, 50000 + ((base * 3) % 97) * 10, (base * 6151) % 99000)
    w = (64 + (base % 4) * 64).astype(np.int32)
    h = (64 + ((base * 7) % 4) * 64).astype(np.int32)
    bbox = np.column_stack(
        [minx, miny, minx + w * 10, miny + h * 10]
    ).astype(np.float64)
    return w, h, bbox


def north_star(
    spark: SparkSession,
    sf_dir: str,
    n_partitions: int | None = None,
    replicate: int = 1,
    tile: int = TILE,
) -> DataFrame:
    """Full pipeline → per-zone tile statistics. Forcing the result
    executes every stage. Plan shape: scan → explode → [ONE fused map:
    footprints/tiler/kernels/per-image rollup/STRtree match/zonal
    partials, once per task over the whole partition] → one tiny
    shuffle → final agg. No pair materialization, no pixel shuffle, one
    Python stage."""
    from rsgislib_spark.operators.spatial_join import ZoneIndex

    imgs = images_df(spark, sf_dir, replicate)
    if n_partitions is None:
        # the part scan is 1-2 partitions at bench scale — without an
        # explicit width the whole fused kernel would run on 1-2 cores
        n_partitions = spark.sparkContext.defaultParallelism * 4
    imgs = imgs.repartition(n_partitions, "image_key")

    zindex_b = spark.sparkContext.broadcast(
        ZoneIndex.from_pandas(load_zones_pdf(sf_dir))
    )
    replicate = max(replicate, 1)

    def _run(cols):
        keys = cols["image_key"]
        ws, hs, bbox = _derive_footprints(keys, replicate)
        st = _image_stats(ws, hs, keys, _lattice(keys), tile)
        return _zone_partials(zindex_b.value, bbox, st)

    partials = arrow_map(imgs.select("image_key"), _run, PARTIAL_SCHEMA, whole_partition=True)
    return _zone_rollup(partials)


def north_star_resumable(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_buckets: int = 8,
    replicate: int = 1,
) -> dict:
    """North-star with checkpoint-resumable output (north rule): one
    producer pass writes the per-zone results of every pending bucket,
    then each bucket commits in ascending order with its lineage row
    (see :func:`operators.manifest.resumable_write`). Re-invoked with the
    same ``out_dir`` after a kill between calls, it skips every bucket
    whose lineage row exists and writes the rest in one more pass; a
    kill inside a call loses only that call's uncommitted buckets."""
    from rsgislib_spark.operators.manifest import resumable_write

    result = north_star(spark, sf_dir, replicate=replicate)
    return resumable_write(
        result, out_dir, id_col="zone_id", n_buckets=n_buckets, stage="north_star"
    )


# ----------------------------------------- decode-inclusive north star

def encode_images_df(
    spark: SparkSession,
    sf_dir: str,
    n_partitions: int | None = None,
    replicate: int = 1,
    where=None,
) -> DataFrame:
    """Bytes-bearing image table (the ``input_hint`` shape): the synthetic
    band grid of each image ENCODED with the in-house codecs — raw for
    even keys, png-class (Paeth-predicted deflate) for odd — so
    ``decode(encode(grid)) == grid`` exactly and downstream stats stay
    oracle-provable. This is the sandbox stand-in for scanning the stored
    ``bytes`` column of the Iceberg table."""
    from rsgislib_spark.kernels import codecs

    imgs = images_df(spark, sf_dir, replicate)
    if where is not None:
        # Subset BEFORE the encode stage: a filter applied by the caller
        # lands above the opaque Python map node and cannot push through
        # it, so the whole table would be encoded only to be discarded.
        imgs = imgs.filter(where)
    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism * 4
    imgs = imgs.repartition(n_partitions, "image_key")

    def _run(cols):
        keys = cols["image_key"]
        fmts = np.where(keys % 2 == 0, "raw", "png").tolist()
        bufs = [None] * len(keys)
        for idx, w, h in _shape_chunks(cols["w"], cols["h"], keys):
            for i, g in zip(idx, lattice_grid(keys[idx], w, h)):
                bufs[i] = codecs.encode_image(g, fmts[i])
        return {**cols, "bytes": bufs, "fmt": fmts}

    schema = (
        "image_key long, bytes binary, fmt string, w int, h int, "
        "minx double, miny double, maxx double, maxy double"
    )
    return arrow_map(imgs, _run, schema)


def north_star_decoded(
    spark: SparkSession,
    sf_dir: str,
    n_partitions: int | None = None,
    replicate: int = 1,
    tile: int = TILE,
    images_bytes: DataFrame | None = None,
) -> DataFrame:
    """DECODE-INCLUSIVE north star: bytes-bearing rows → codec decode →
    band/focal kernels → per-image rollup → map-side STRtree zonal match
    → per-zone stats. Identical result to :func:`north_star` because the
    raw/png-class codecs are exact, so it shares the q64 oracle math —
    but the timed path now includes the codec work that dominates a
    100 TB deployment. The executor reads real pixel payloads exactly as
    ``RSGISCalcImage::calcImage`` does (src/img/RSGISCalcImage.cpp:149-230
    — the reference executor always decodes pixels before the per-pixel
    callback); decode is per image, the stats kernels run on same-shape
    CHUNK stacks like the synthetic path. Pass ``images_bytes`` (e.g. a
    parquet scan of a prebuilt bytes table) to exclude encode from the
    measured window; by default the encode stage feeds the decode stage
    in-plan (bytes cross the Arrow boundary between the two Python
    stages — the stand-in for a storage scan; pixels still never
    shuffle)."""
    from rsgislib_spark.kernels import codecs
    from rsgislib_spark.operators.spatial_join import ZoneIndex

    if images_bytes is None:
        images_bytes = encode_images_df(spark, sf_dir, n_partitions, replicate)
    zindex_b = spark.sparkContext.broadcast(
        ZoneIndex.from_pandas(load_zones_pdf(sf_dir))
    )

    def _run(cols):
        views, fmts = cols["bytes"], cols["fmt"]

        def decoded(idx, w, h):
            stack = np.empty((len(idx), h, w), dtype=np.uint8)
            for t, i in enumerate(idx):
                stack[t] = codecs.decode_image(views[i], fmts[i], h, w)
            return stack

        ws, hs = cols["w"], cols["h"]
        st = _image_stats(ws, hs, np.arange(len(ws)), decoded, tile)
        bbox = np.stack([cols[c] for c in ("minx", "miny", "maxx", "maxy")], axis=1)
        return _zone_partials(zindex_b.value, bbox.astype(np.float64), st)

    src = images_bytes.select("bytes", "fmt", "w", "h", "minx", "miny", "maxx", "maxy")
    return _zone_rollup(arrow_map(src, _run, PARTIAL_SCHEMA, whole_partition=True))
