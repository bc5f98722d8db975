"""The benchmark's three workloads.

Each is a closed loop: one client in the driver process issues Spark
actions back to back on ``local[nproc]``. A workload provides

* ``make_inputs(run)``: the seeded inputs (cached, outside every timing);
* ``load(spark)``: the input load that is part of set-up;
* ``first(run)``: the first operation(s), untimed, whose results are checked
  against an independent oracle; they also warm the code paths. Returns
  (operations attempted, operations failed);
* ``unit(run)``: one timed unit of the loop, returning one
  ``(wall_s, ok)`` pair per operation;
* ``e2e(ops)`` and ``info()``: the end-to-end figures.

Why these three (also recorded in BENCHMARK.json):

* ``decoded_zonal`` runs the flagship decode-inclusive job, where codec
  decode and the Arrow boundary do most of the work and Catalyst planning
  and shuffle do almost none.
* ``catalog_mix`` runs the headline catalog queries, where driver planning,
  broadcast STRtree joins, kNN, salting and shuffle do the work and codecs
  none: a decode gain must show no change here.
* ``tile_manifest`` uses the same decode and tiler layers but writes: tile
  payloads land on disk through the checkpoint-resumable manifest writer, so
  a change that speeds up reads at the cost of writes shows here.

BENCHMARK.json runs catalog_mix and tile_manifest. A decoded_zonal run takes
about 45 s and would not fit the benchmark's time budget beside them; run
it by hand (``--workload decoded_zonal``). Its decode, Arrow and STRtree
layers are also measured by the other two.
"""

from __future__ import annotations

import concurrent.futures
import importlib.util
import os
import random
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.trace import median

#: The bench.py headline queries except q91 (q91's decode path is
#: ``decoded_zonal``). q16 is kNN, q55 salting and q64 the pipeline.
MIX_QUERIES = [
    "q01_pricing_summary", "q10_cell_assign", "q11_spatial_join_intersects",
    "q14_zonal_point_stats", "q16_knn_zone_centers", "q19_tile_grid",
    "q20_tile_cells", "q25_focal_mean", "q31_token_stats", "q35_minhash_bands",
    "q40_ann_cosine_topk", "q55_salted_cell_join", "q64_north_star",
]

SPLIT_8MIB = str(8 * 1024 * 1024)


def _canon():
    """``check_correctness.canon``: the repo's Spark-vs-DuckDB hash rule."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def _duckdb(tables: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=2")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _time_rate(fn, work: float, min_s: float = 0.3) -> float:
    """``work`` ÷ median wall of repeated ``fn()`` calls (at least 3, and
    at least ``min_s`` seconds in all)."""
    walls, t_end = [], time.perf_counter() + min_s
    while len(walls) < 3 or time.perf_counter() < t_end:
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return work / median(walls)


def _match_rate(footprints: np.ndarray, zones_dir: str) -> float:
    from rsgislib_spark.operators.spatial_join import ZoneIndex
    from rsgislib_spark.pipeline import load_zones_pdf

    zx = ZoneIndex.from_pandas(load_zones_pdf(zones_dir))
    return _time_rate(lambda: zx.match(footprints, "intersects"), len(footprints))


class _ImageWorkload:
    n_images = 0
    n_files = 1

    def make_inputs(self, run) -> None:
        self.images_path = inputs.images_dir(run.data_dir, self.n_images, run.seed, self.n_files)
        meta = pq.read_table(self.images_path, columns=["w", "h", "minx", "miny"])
        self.w = meta.column("w").to_numpy().astype(np.int64)
        self.h = meta.column("h").to_numpy().astype(np.int64)
        self.minx = meta.column("minx").to_numpy()
        self.miny = meta.column("miny").to_numpy()

    def load(self, spark) -> None:
        self.images = spark.read.parquet(self.images_path)
        self.images.count()

    def decode_rate(self) -> float:
        """Megapixels per second of ``codecs.decode_image`` on the first 64
        payloads of the input, in this process."""
        from rsgislib_spark.kernels import codecs

        t = pq.read_table(self.images_path, columns=["bytes", "fmt", "w", "h"]).slice(0, 64)
        rows = list(zip(t.column("bytes").to_pylist(), t.column("fmt").to_pylist(),
                        t.column("h").to_pylist(), t.column("w").to_pylist()))
        mpx = sum(h * w for _, _, h, w in rows) / 1e6
        return _time_rate(lambda: [codecs.decode_image(b, f, h, w) for b, f, h, w in rows], mpx)

    def footprints(self) -> np.ndarray:
        from rsgislib_spark.datagen import PIXEL_SIZE

        return np.stack([self.minx, self.miny, self.minx + self.w * PIXEL_SIZE,
                         self.miny + self.h * PIXEL_SIZE], axis=1)


class DecodedZonal(_ImageWorkload):
    """``pipeline.north_star_decoded`` over a stored bytes table, sf0.1 zones."""

    name = "decoded_zonal"
    n_images = 2000
    conf = {"spark.sql.files.maxPartitionBytes": SPLIT_8MIB,
            "spark.sql.execution.arrow.maxRecordsPerBatch": "10000"}

    def make_inputs(self, run) -> None:
        super().make_inputs(run)
        # the zones derive from the supplier keys of the sf0.1 catalog
        self.zones_dir = inputs.catalog_dir(run.data_dir, 0.1, run.seed, tables=("supplier",))

    def load(self, spark) -> None:
        from pyspark.sql import functions as F

        from rsgislib_spark.datagen import PIXEL_SIZE

        super().load(spark)
        self.ns_input = self.images.select(
            "bytes", "fmt", "w", "h", "minx", "miny",
            (F.col("minx") + F.col("w") * PIXEL_SIZE).alias("maxx"),
            (F.col("miny") + F.col("h") * PIXEL_SIZE).alias("maxy"),
        )

    def _op(self, run):
        from rsgislib_spark.pipeline import north_star_decoded

        tr = run.tracer
        tr.next_op()
        with tr.span("op", readback=True) as op:
            with tr.span("driver.build"):
                df = north_star_decoded(run.spark, self.zones_dir, images_bytes=self.ns_input)
            with tr.span("spark.action"):
                pdf = df.toPandas()
        with tr.span("check"):
            digest = run.canon(pdf)[2]
        return op.dur, pdf, digest

    def first(self, run) -> tuple[int, int]:
        """Per-zone image and pixel counts against a DuckDB bbox-overlap
        query on the same footprints; a second job warms the code paths
        and must hash equal."""
        from rsgislib_spark.qcommon import GEO_ZONES_SQL

        _, pdf, self.digest = self._op(run)
        again = self._op(run)[2]
        con = _duckdb({"supplier": os.path.join(self.zones_dir, "supplier.parquet")})
        oracle = con.execute(f"""
            WITH z AS ({GEO_ZONES_SQL}),
                 i AS (SELECT minx, miny, minx + w * 10.0 AS maxx, miny + h * 10.0 AS maxy, w, h
                       FROM read_parquet('{self.images_path}/*.parquet'))
            SELECT z.zone_id, COUNT(*) AS n_images, SUM(CAST(i.w AS BIGINT) * i.h) AS n_px
            FROM i JOIN z ON i.minx < z.maxx AND i.maxx > z.minx
                         AND i.miny < z.maxy AND i.maxy > z.miny
            GROUP BY z.zone_id""").df()
        con.close()
        got = {(int(z), int(n), int(p)) for z, n, p in zip(pdf.zone_id, pdf.n_images, pdf.n_px)}
        want = {(int(z), int(n), int(p)) for z, n, p in zip(oracle.zone_id, oracle.n_images, oracle.n_px)}
        self.n_zones_hit = len(want)
        return 2, int(got != want or not want) + int(again != self.digest)

    def unit(self, run):
        wall, _, digest = self._op(run)
        return [(wall, digest == self.digest)]

    def e2e(self, walls):
        return {"work_per_s": self.n_images / median(walls)}

    def info(self):
        return {"images": self.n_images, "zones_hit": self.n_zones_hit}

    def kernel_rates(self, run):
        return {"codecs.decode_mpx_per_s": self.decode_rate(),
                "zone_index.match_per_s": _match_rate(self.footprints(), self.zones_dir)}


class CatalogMix:
    """Round-robin over the 13 mix queries; the seed permutes each round."""

    name = "catalog_mix"
    sf = 0.01
    conf: dict = {}

    def make_inputs(self, run) -> None:
        self.sf_dir = inputs.catalog_dir(run.data_dir, self.sf, run.seed)
        self.rng = random.Random(run.seed)
        self.order: list[str] = []
        self.traced: dict[str, list[float]] = {q: [] for q in MIX_QUERIES}

    def load(self, spark) -> None:
        from rsgislib_spark.qcommon import load_views

        load_views(spark, self.sf_dir)

    def _op(self, run, name):
        from rsgislib_spark.queries import QUERIES

        tr = run.tracer
        tr.next_op()
        with tr.span("op", readback=True) as op:
            with tr.span("driver.build"):
                df = QUERIES[name](run.spark, self.sf_dir)
            with tr.span("spark.action"):
                pdf = df.toPandas()
        if tr.probe is not None:
            self.traced[name].append(op.dur)
        return op.dur, pdf

    def first(self, run) -> tuple[int, int]:
        """Each query's first result against its DuckDB oracle. The cold first
        executions run on one thread per core (they only warm the code paths
        and produce the checked results); the oracles run meanwhile."""
        from rsgislib_spark.queries import ORACLES, QUERIES

        def oracle_digests():
            con = _duckdb({t: f"{self.sf_dir}/{t}.parquet" for t in inputs.CATALOG_TABLES})
            try:
                return {q: run.canon(con.execute(ORACLES[q]).df())[2]
                        for q in MIX_QUERIES if q in ORACLES}
            finally:
                con.close()

        def spark_result(name):
            return len(pdf := QUERIES[name](run.spark, self.sf_dir).toPandas()), run.canon(pdf)[2]

        with concurrent.futures.ThreadPoolExecutor(run.cores + 1) as pool:
            oracle = pool.submit(oracle_digests)
            got = dict(zip(MIX_QUERIES, pool.map(spark_result, MIX_QUERIES, timeout=150)))
            want = oracle.result(timeout=150)
        self.rows = {q: n for q, (n, _) in got.items()}
        return len(MIX_QUERIES), sum(1 for q in MIX_QUERIES if q in want and got[q][1] != want[q])

    def unit(self, run):
        out = []
        for name in self.rng.sample(MIX_QUERIES, len(MIX_QUERIES)):
            wall, pdf = self._op(run, name)
            self.order.append(name)
            out.append((wall, len(pdf) == self.rows[name]))
        return out

    def e2e(self, walls):
        return {"work_per_s": len(walls) / sum(walls)}

    def info(self):
        return {"sf": self.sf, "op_queries": self.order}

    def per_query(self) -> dict[str, float]:
        return {f"query.{q}_s": (median(v) if v else 0.0) for q, v in self.traced.items()}

    def kernel_rates(self, run):
        from rsgislib_spark.qcommon import GEO_IMAGES_SQL

        con = _duckdb({"part": f"{self.sf_dir}/part.parquet"})
        fp = con.execute(f"SELECT minx, miny, maxx, maxy FROM ({GEO_IMAGES_SQL})").fetchnumpy()
        con.close()
        rects = np.stack([fp["minx"], fp["miny"], fp["maxx"], fp["maxy"]], axis=1)
        return {"zone_index.match_per_s": _match_rate(rects, self.sf_dir)}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _lineage(out_dir: str) -> list[tuple]:
    t = pq.read_table(os.path.join(out_dir, "_manifest"))
    cols = [t.column(c).to_pylist() for c in ("bucket", "n_rows", "key_hash_sum", "stage")]
    return sorted(zip(*cols))


def _kill_later_half(out_dir: str, n_buckets: int) -> set[int]:
    """Simulate a writer killed half-way: drop the lineage rows and data of
    the later half of the buckets."""
    later = set(range(n_buckets // 2, n_buckets))
    mdir = os.path.join(out_dir, "_manifest")
    for f in os.listdir(mdir):
        if f.endswith(".parquet"):
            buckets = set(pq.read_table(os.path.join(mdir, f), columns=["bucket"])
                          .column("bucket").to_pylist())
            if buckets & later:
                os.remove(os.path.join(mdir, f))
                crc = os.path.join(mdir, f".{f}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
    for b in later:
        shutil.rmtree(os.path.join(out_dir, f"bucket={b}"))
    return later


class TileManifest(_ImageWorkload):
    """``tiler.tile_images`` through ``manifest.resumable_write``, verified,
    killed half-way and resumed.

    The 1024 images lie in four files of about 4.8 MB, so the 8 MiB split
    rule makes four scan tasks of 256 images each: one per core on a 4-core
    host. 8 buckets is what ``pipeline`` writes with.
    """

    name = "tile_manifest"
    n_images = 1024
    n_files = 4
    n_buckets = 8
    tile = 64
    conf = {"spark.sql.files.maxPartitionBytes": SPLIT_8MIB,
            "spark.sql.execution.arrow.maxRecordsPerBatch": "64"}

    def make_inputs(self, run) -> None:
        from rsgislib_spark.operators.tiler import tile_windows

        super().make_inputs(run)
        self.out_root = os.path.join(run.work_dir, "tiles")
        shutil.rmtree(self.out_root, ignore_errors=True)
        wins = {}
        for w, h in set(zip(self.w.tolist(), self.h.tolist())):
            win = tile_windows("simple", w, h, self.tile, self.tile)
            wins[(w, h)] = (len(win), int((win[:, 4] * win[:, 5]).sum()))
        self.tiles = sum(wins[(w, h)][0] for w, h in zip(self.w.tolist(), self.h.tolist()))
        self.payload = sum(wins[(w, h)][1] for w, h in zip(self.w.tolist(), self.h.tolist()))
        self.write_s, self.resume_s, self.stored = [], [], []
        self.n_op = 0

    def _op(self, run, b: int):
        """One write-verify-kill-resume-verify cycle over ``b`` buckets. Its
        wall is the sum of the library calls' spans: the benchmark's own
        checks, directory walk and simulated kill stay out of it."""
        from rsgislib_spark.operators import manifest
        from rsgislib_spark.operators.tiler import tile_images

        spark, tr = run.spark, run.tracer
        out = os.path.join(self.out_root, f"op{self.n_op}")
        self.n_op += 1
        tr.next_op()
        lib = []
        with tr.span("op"):
            with tr.span("driver.build") as s:
                tiles = tile_images(self.images, self.tile, self.tile)
            lib.append(s)
            with tr.span("manifest.resumable_write", readback=True) as w:
                first = manifest.resumable_write(tiles, out, "image_id", n_buckets=b)
            with tr.span("manifest.verify_against_manifest", readback=True) as s:
                v1 = manifest.verify_against_manifest(spark, out, "image_id").toPandas()
            lib += [w, s]
            with tr.span("check"):
                stored = _dir_bytes(out)
                lineage = _lineage(out)
            with tr.span("kill"):
                later = _kill_later_half(out, b)
            with tr.span("manifest.completed_buckets", readback=True) as s:
                done = manifest.completed_buckets(spark, out)
            with tr.span("manifest.resume", readback=True) as r:
                again = manifest.resumable_write(
                    tile_images(self.images, self.tile, self.tile), out, "image_id", n_buckets=b)
            with tr.span("manifest.verify_against_manifest", readback=True) as s2:
                v2 = manifest.verify_against_manifest(spark, out, "image_id").toPandas()
            lib += [s, r, s2]
            with tr.span("check"):
                ok = (
                    first["written"] == list(range(b))
                    and bool(v1.ok.all()) and bool(v2.ok.all())
                    and len(v1) == b and int(v1.n_rows.sum()) == self.tiles
                    and done == set(range(b)) - later
                    and sorted(again["written"]) == sorted(later)
                    and _lineage(out) == lineage
                )
        shutil.rmtree(out, ignore_errors=True)
        self.write_s.append(w.dur)
        self.resume_s.append(r.dur)
        self.stored.append(stored)
        return sum(s.dur for s in lib), ok

    def first(self, run) -> tuple[int, int]:
        """One checked cycle over 2 buckets: it runs every code path of the
        timed cycle, cold, at a quarter of its jobs."""
        self.scan_tasks = self.images.rdd.getNumPartitions()
        ok = self._op(run, 2)[1]
        self.write_s, self.resume_s, self.stored = [], [], []
        return 1, int(not ok)

    def unit(self, run):
        return [self._op(run, self.n_buckets)]

    def e2e(self, walls):
        return {"work_per_s": self.tiles / median(self.write_s)}

    def info(self):
        return {"images": self.n_images, "scan_tasks": self.scan_tasks,
                "buckets": self.n_buckets, "tiles": self.tiles,
                "tiles_written_per_s": self.tiles / median(self.write_s),
                "resume_s": median(self.resume_s),
                "bytes_stored_per_payload_byte": median(self.stored) / self.payload}

    def kernel_rates(self, run):
        return {"codecs.decode_mpx_per_s": self.decode_rate()}


WORKLOADS = {w.name: w for w in (DecodedZonal, CatalogMix, TileManifest)}
