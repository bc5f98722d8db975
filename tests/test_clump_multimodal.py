"""Tests: connected-components clumping (tiled + reconcile vs BFS
oracle), multimodal payload operators, and the fused north-star
pipeline stages."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rsgislib_spark.operators.clump import _UnionFind, clump_images, label_components


def brute_cc(mask, conn=4):
    h, w = mask.shape
    lab = -np.ones((h, w), np.int64)
    dirs = ((0, 1), (0, -1), (1, 0), (-1, 0))
    if conn == 8:
        dirs = dirs + ((1, 1), (1, -1), (-1, 1), (-1, -1))
    for sy in range(h):
        for sx in range(w):
            if mask[sy, sx] and lab[sy, sx] < 0:
                root = sy * w + sx
                stack = [(sy, sx)]
                lab[sy, sx] = root
                while stack:
                    y, x = stack.pop()
                    for dy, dx in dirs:
                        ny, nx = y + dy, x + dx
                        if 0 <= ny < h and 0 <= nx < w and mask[ny, nx] and lab[ny, nx] < 0:
                            lab[ny, nx] = root
                            stack.append((ny, nx))
    return lab


@pytest.mark.parametrize("conn", [4, 8])
def test_label_components_vs_bfs(conn):
    rng = np.random.Generator(np.random.Philox(key=[5, 1]))
    for _ in range(10):
        mask = rng.random((31, 44)) < 0.55
        assert np.array_equal(label_components(mask, conn), brute_cc(mask, conn))


def test_label_components_ring_and_empty():
    m = np.zeros((20, 20), bool)
    m[0, :] = m[-1, :] = m[:, 0] = m[:, -1] = True
    lab = label_components(m)
    assert len(np.unique(lab[m])) == 1
    assert (label_components(np.zeros((5, 5), bool)) == -1).all()


def test_union_find():
    uf = _UnionFind()
    uf.union(5, 9)
    uf.union(9, 2)
    assert uf.find(5) == uf.find(2) == 2
    assert uf.find(77) == 77


def test_clump_images_tiled_matches_whole(spark):
    rows = [(401, 100, 64), (802, 200, 137)]
    imgs = spark.createDataFrame(rows, "image_key long, w int, h int")
    got = {
        r["image_key"]: (r["n_components"], r["largest_px"])
        for r in clump_images(imgs, threshold=125, tile=48).collect()
    }
    for k, w, h in rows:
        px = (np.arange(w, dtype=np.int64) * 13)[None, :]
        py = (np.arange(h, dtype=np.int64) * 17)[:, None]
        band = (k * 7 + px + py) % 251
        lab = label_components(band > 125)
        u, c = np.unique(lab[lab >= 0], return_counts=True)
        assert got[k] == (len(u), int(c.max()))


# ----------------------------------------------------------- multimodal


def test_image_features_real_payload(spark):
    from rsgislib_spark import datagen
    from rsgislib_spark.operators.multimodal import image_features

    pdf = datagen.gen_images(20, seed=42)
    sdf = spark.createDataFrame(pdf[["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]])
    out = image_features(sdf).toPandas().set_index("image_id")
    assert len(out) == 20
    # lossless formats round-trip the phash exactly
    lossless = pdf[pdf["fmt"] != "jpg"]
    for rec in lossless.itertuples(index=False):
        assert int(out.loc[rec.image_id, "phash"]) == int(rec.phash)
    assert all(len(t) == 16 for t in out["thumb16"])


def test_resize_kernels():
    from rsgislib_spark.operators.multimodal import resize_mean2, resize_nearest

    a = np.arange(64, dtype=np.int64).reshape(8, 8)
    n = resize_nearest(a, 4, 4)
    assert n.shape == (4, 4) and n[0, 0] == a[0, 0] and n[1, 1] == a[2, 2]
    m = resize_mean2(a)
    assert m.shape == (4, 4)
    assert m[0, 0] == (a[0, 0] + a[0, 1] + a[1, 0] + a[1, 1]) // 4


def test_audio_features(spark):
    from rsgislib_spark.operators.multimodal import audio_features

    pcm = (np.sin(np.linspace(0, 60, 4096)) * 10000).astype("<i2")
    df = spark.createDataFrame(
        pd.DataFrame({"clip_id": ["a"], "bytes": [pcm.tobytes()], "fmt": ["pcm16"]})
    )
    r = audio_features(df, frame=1024).collect()[0]
    assert r["n_samples"] == 4096 and r["n_frames"] == 4
    assert 6000 < r["rms_mean"] < 8000  # sine RMS ≈ amplitude/√2


def test_audio_unknown_codec_raises(spark):
    from rsgislib_spark.operators.multimodal import decode_audio

    with pytest.raises(NotImplementedError):
        decode_audio(b"xx", "mp3")


def test_video_frame_sampling(spark):
    from rsgislib_spark.operators.multimodal import sample_video_frames

    h, w, n = 6, 5, 12
    frames = np.arange(n * h * w, dtype=np.uint8).reshape(n, h, w)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"clip_id": ["v1"], "bytes": [frames.tobytes()], "fmt": ["rawframes"],
             "h": [h], "w": [w]}
        )
    )
    out = sample_video_frames(df, every_k=5).orderBy("frame_no").collect()
    assert [r["frame_no"] for r in out] == [0, 5, 10]
    got = np.frombuffer(out[1]["frame"], dtype=np.uint8).reshape(h, w)
    assert np.array_equal(got, frames[5])


def test_video_frames_split_at_binary_batch_ceiling(spark, monkeypatch):
    """Sampled frames whose payload bytes would pass the per-batch binary
    ceiling (int32 offsets: 2 GiB in production, a few frames here) leave
    in several record batches — same rows, same payloads, no wrap."""
    from rsgislib_spark.kernels import arrowmap
    from rsgislib_spark.operators.multimodal import sample_video_frames

    h, w = 6, 5
    clips = pd.DataFrame({
        "clip_id": [f"v{i}" for i in range(4)],
        "bytes": [((np.arange((10 + i) * h * w) * (i + 3)) % 251).astype(np.uint8).tobytes()
                  for i in range(4)],
        "fmt": ["rawframes"] * 4, "h": [h] * 4, "w": [w] * 4,
    })
    df = spark.createDataFrame(clips).coalesce(1)

    def sampled():
        return sorted((r["clip_id"], r["frame_no"], r["h"], r["w"], bytes(r["frame"]))
                      for r in sample_video_frames(df, every_k=2).collect())

    whole = sampled()
    assert len(whole) == 5 + 6 + 6 + 7
    monkeypatch.setattr(arrowmap, "MAX_BATCH_BINARY_BYTES", 3 * h * w)
    assert sampled() == whole


def test_audio_external_backend_seam(monkeypatch):
    from rsgislib_spark.operators import multimodal as mm

    class _Fake:
        name = "fake"

        def decode(self, buf, fmt):
            assert fmt == "wav"
            return np.frombuffer(bytes(buf), dtype="<i2")[::2]

    monkeypatch.setattr(mm, "_EXTERNAL_AUDIO", [_Fake()])
    pcm = np.arange(8, dtype="<i2")
    assert np.array_equal(mm.decode_audio(pcm.tobytes(), "wav"), pcm[::2])
    # pcm16 never routes external
    assert np.array_equal(mm.decode_audio(pcm.tobytes(), "pcm16"), pcm)
    monkeypatch.setattr(mm, "_EXTERNAL_AUDIO", [])  # probed, absent
    with pytest.raises(NotImplementedError, match="pip install soundfile"):
        mm.decode_audio(b"xx", "wav")


def test_video_external_backend_seam(monkeypatch):
    from rsgislib_spark.operators import multimodal as mm

    class _Fake:
        name = "fake"

        def decode_frames(self, buf, fmt, h, w):
            assert fmt == "mp4"
            return np.ones((2, h, w), dtype=np.uint8)

    monkeypatch.setattr(mm, "_EXTERNAL_VIDEO", [_Fake()])
    out = mm.decode_video_frames(b"xx", "mp4", 3, 4)
    assert out.shape == (2, 3, 4) and out.dtype == np.uint8
    monkeypatch.setattr(mm, "_EXTERNAL_VIDEO", [])  # probed, absent
    with pytest.raises(NotImplementedError, match="pip install av"):
        mm.decode_video_frames(b"xx", "mp4", 3, 4)


def test_soundfile_parity_when_installed(spark):
    soundfile = pytest.importorskip("soundfile")  # absent in the sandbox
    import io

    from rsgislib_spark.operators.multimodal import audio_features

    pcm = (np.sin(np.linspace(0, 60, 4096)) * 10000).astype("<i2")
    bio = io.BytesIO()
    soundfile.write(bio, pcm, 16000, format="WAV", subtype="PCM_16")
    df = spark.createDataFrame(
        pd.DataFrame({"clip_id": ["w", "p"],
                      "bytes": [bio.getvalue(), pcm.tobytes()],
                      "fmt": ["wav", "pcm16"]})
    )
    rows = {r["clip_id"]: r for r in audio_features(df, frame=1024).collect()}
    # WAV round-trips the same PCM: features identical to the raw path
    assert rows["w"]["n_samples"] == rows["p"]["n_samples"] == 4096
    assert abs(rows["w"]["rms_mean"] - rows["p"]["rms_mean"]) < 1e-9


# ------------------------------------------------------- fused pipeline


def test_image_stats_fused_matches_tile_stats(spark):
    from rsgislib_spark.pipeline import image_stats_df, tile_stats_df

    imgs = spark.createDataFrame(
        [(7, 100, 64, 0.0, 0.0, 1000.0, 640.0), (13, 200, 200, 5.0, 5.0, 2005.0, 2005.0)],
        "image_key long, w int, h int, minx double, miny double, maxx double, maxy double",
    )
    fused = {r["image_key"]: r.asDict() for r in image_stats_df(imgs).collect()}
    agg = {
        r["image_key"]: r.asDict()
        for r in tile_stats_df(imgs)
        .groupBy("image_key")
        .agg(
            F.count("*").alias("n_tiles"),
            F.sum("n_px").alias("n_px"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.sum("focal_sum").alias("focal_sum"),
            F.sum("focal_cnt").alias("focal_cnt"),
        )
        .collect()
    }
    for k in fused:
        for c in ("n_tiles", "n_px", "sum_v", "min_v", "max_v", "focal_sum", "focal_cnt"):
            assert fused[k][c] == agg[k][c], (k, c)


def test_north_star_runs_and_replicates(spark):
    from rsgislib_spark.pipeline import north_star

    r1 = north_star(spark, "/root/testdata/sf0.001")
    tot1 = r1.agg(F.sum("n_images")).collect()[0][0]
    r3 = north_star(spark, "/root/testdata/sf0.001", replicate=3)
    tot3 = r3.agg(F.sum("n_images")).collect()[0][0]
    assert tot3 == 3 * tot1 > 0


def test_north_star_resumable_skips_finished_buckets(spark, tmp_path):
    from rsgislib_spark.operators.manifest import read_manifest, verify_against_manifest
    from rsgislib_spark.pipeline import north_star, north_star_resumable

    out = str(tmp_path / "ns_out")
    r1 = north_star_resumable(spark, "/root/testdata/sf0.001", out, n_buckets=4)
    assert sorted(r1["written"]) == [0, 1, 2, 3] and r1["skipped"] == []
    # restart: all buckets skipped, nothing recomputed
    r2 = north_star_resumable(spark, "/root/testdata/sf0.001", out, n_buckets=4)
    assert r2["written"] == [] and sorted(r2["skipped"]) == [0, 1, 2, 3]
    # lineage rows verify and the written rows equal a direct run
    ok = verify_against_manifest(spark, out, "zone_id").toPandas()
    assert ok["ok"].all()
    import os
    written = spark.read.option("basePath", out).parquet(
        *[f"{out}/{d}" for d in os.listdir(out) if d.startswith("bucket=")]
    ).drop("bucket")
    direct = north_star(spark, "/root/testdata/sf0.001")
    assert sorted(map(tuple, written.collect())) == sorted(map(tuple, direct.collect()))
