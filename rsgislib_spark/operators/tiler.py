"""Raster↔vector tiling: cut each decoded image into (overlapping) pixel
tiles, one output row per tile, assigned to grid cells.

Reproduces the reference's three tiling conventions exactly
(kernels.pixelmath):

 - ``simple``  — full tiles + partial remainder tiles
   (``imageutils/__init__.py:2614-2669``, create_tiles_multi_core)
 - ``overlap`` — C++ ``create_tiles`` overlap/offset expansion
   (``src/cmds/RSGISCmdImageUtils.cpp:262+``)
 - ``block``   — StdImgBlockIter full-size edge re-anchoring
   (``stdimgblockiter.py:214-286``)

The operator is the engine's UDTF shape (1 image row → N tile rows) via
``arrow_map``; decode runs once per image inside the Arrow batch, tile
payloads are raw uint8 (lossless past this point). This is the Spark
replacement for the reference's tmp-file tile exchange
(``segmentation/tiledclump.py:134-224``) — the shuffle IS the filesystem.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from rsgislib_spark.datagen import PIXEL_SIZE
from rsgislib_spark.kernels import cells, codecs, pixelmath
from rsgislib_spark.kernels.arrowmap import arrow_map, concat_columns
from rsgislib_spark.operators.footprints import DEFAULT_RES

TILE_SCHEMA = (
    "image_id string, tile_x int, tile_y int, x0 int, y0 int, "
    "tw int, th int, pixels binary, cell long"
)

_MODES = ("simple", "overlap", "block")


def tile_windows(mode: str, w: int, h: int, tile_w: int, tile_h: int,
                 overlap: int = 0, offset: bool = False) -> np.ndarray:
    if mode == "simple":
        return pixelmath.tile_windows_simple(w, h, tile_w, tile_h)
    if mode == "overlap":
        return pixelmath.tile_windows_overlap(w, h, tile_w, tile_h, overlap, offset)
    if mode == "block":
        return pixelmath.block_windows_anchored(w, h, tile_w)
    raise ValueError(f"mode must be one of {_MODES}")


def tile_images(
    images: DataFrame,
    tile_w: int = 64,
    tile_h: int = 64,
    mode: str = "simple",
    overlap: int = 0,
    offset: bool = False,
    res: int = DEFAULT_RES,
    pixel_size: float = PIXEL_SIZE,
) -> DataFrame:
    """images(image_id, bytes, w, h, fmt, minx, miny, ...) → tile rows.

    Cell assignment: the grid cell containing the tile's spatial center
    (image row 0 is the TOP of the footprint, GDAL convention).

    Tuning: transfer-bound BOTH ways (bytes in, tile payloads out) —
    set spark.sql.execution.arrow.maxRecordsPerBatch ≈ 64 for the
    session running it (measured 3.2× vs the default; see
    scripts/bench_decode.py and BENCH/BASELINE.md).
    """
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}")
    src = images.select("image_id", "bytes", "w", "h", "fmt", "minx", "miny")

    def _tile(cols):
        ids, views, fmts = cols["image_id"], cols["bytes"], cols["fmt"]
        outs = []
        for r in range(len(ids)):
            w, h = int(cols["w"][r]), int(cols["h"][r])
            img = codecs.decode_image(views[r], fmts[r], h, w)
            wins = tile_windows(mode, w, h, tile_w, tile_h, overlap, offset)
            maxy = cols["miny"][r] + h * pixel_size
            out = dict(zip(("tile_x", "tile_y", "x0", "y0", "tw", "th"), wins.T))
            out["image_id"] = [ids[r]] * len(wins)
            out["pixels"] = [
                np.ascontiguousarray(img[y0 : y0 + th, x0 : x0 + tw])
                for _, _, x0, y0, tw, th in wins.tolist()
            ]
            out["cx"] = cols["minx"][r] + (wins[:, 2] + wins[:, 4] / 2.0) * pixel_size
            out["cy"] = maxy - (wins[:, 3] + wins[:, 5] / 2.0) * pixel_size
            outs.append(out)
        out = concat_columns(outs)
        out["cell"] = cells.encode_point(out["cx"], out["cy"], res)  # once per batch
        return out

    # per Arrow batch, not per partition: with maxRecordsPerBatch ≈ 64
    # the next batch's transfer overlaps this batch's decode + tiling
    return arrow_map(src, _tile, TILE_SCHEMA)


def tile_manifest(tiles: DataFrame) -> DataFrame:
    """Per-image tile counts + payload bytes — the lineage/manifest row
    source (see operators.manifest for the resumable writer)."""
    from pyspark.sql import functions as F

    return tiles.groupBy("image_id").agg(
        F.count("*").alias("n_tiles"),
        F.sum(F.length("pixels")).alias("payload_bytes"),
        F.min("cell").alias("min_cell"),
        F.max("cell").alias("max_cell"),
    )


def tile_batches(
    images: DataFrame,
    block: int = 64,
    batch_size: int = 32,
) -> DataFrame:
    """Batch-of-blocks iterator for DL inference — the Spark shape of
    ``StdImgBlockIterBatches`` (imageutils/stdimgblockiterbatches.py):
    decode → FULL-SIZE anchored blocks (the iterator's edge re-anchor
    rule, kernels.pixelmath.block_windows_anchored) → fixed-size batches
    of stacked uint8 tensors, batched WITHIN each partition (no shuffle;
    a model predict step maps over these rows and joins results back on
    the exploded (image_id, x_block, y_block) list).

    Output rows: (batch_id string, n int, tensor binary [n·th·tw bytes,
    C-order], image_ids array<string>, xs array<int>, ys array<int>).
    The trailing batch of a partition may hold fewer than batch_size
    blocks — exactly like the reference's last yield.
    """
    from pyspark import TaskContext

    from rsgislib_spark.kernels.pixelmath import block_windows_anchored

    src = images.select("image_id", "bytes", "w", "h", "fmt")
    schema = (
        "batch_id string, n int, tensor binary, image_ids array<string>, "
        "xs array<int>, ys array<int>"
    )

    def _run(cols):
        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        ids, views, fmts = cols["image_id"], cols["bytes"], cols["fmt"]
        blocks, b_ids, b_xs, b_ys = [], [], [], []
        for k in range(len(ids)):
            w, h = int(cols["w"][k]), int(cols["h"][k])
            if w < block or h < block:
                continue  # reference iterator requires block ≤ image
            img = codecs.decode_image(views[k], fmts[k], h, w)
            for xb, yb, x0, y0, tw, th in block_windows_anchored(w, h, block):
                blocks.append(img[y0 : y0 + th, x0 : x0 + tw])
                b_ids.append(ids[k])
                b_xs.append(int(xb))
                b_ys.append(int(yb))
        if not blocks:
            return None
        cuts = [slice(i, i + batch_size) for i in range(0, len(blocks), batch_size)]
        return {
            "batch_id": [f"p{pid}_b{seq}" for seq in range(len(cuts))],
            "n": [len(b_ids[c]) for c in cuts],
            "tensor": [np.stack(blocks[c]).astype(np.uint8, copy=False) for c in cuts],
            "image_ids": [b_ids[c] for c in cuts],
            "xs": [b_xs[c] for c in cuts],
            "ys": [b_ys[c] for c in cuts],
        }

    # whole partition: batches of blocks run across Arrow batch
    # boundaries, and batch ids number the partition's sequence
    return arrow_map(src, _run, schema, whole_partition=True)
