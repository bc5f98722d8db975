"""Salting, manifest-resume, lineage verify, incremental streaming."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rsgislib_spark.operators import manifest, salting


@pytest.fixture()
def skewed_df(spark):
    # 5000 rows, 80% in one hot cell
    n = 5000
    ids = np.arange(n)
    cells = np.where(ids % 5 != 0, 7777, ids % 50)
    pdf = pd.DataFrame({"row_id": ids, "cell": cells.astype(np.int64), "val": ids * 2})
    return spark.createDataFrame(pdf)


@pytest.fixture()
def small_side(spark):
    pdf = pd.DataFrame({"cell": np.arange(0, 8000, dtype=np.int64), "attr": np.arange(8000) % 9})
    return spark.createDataFrame(pdf)


class TestSalting:
    def test_find_hot_cells(self, spark, skewed_df):
        hot = salting.find_hot_cells(skewed_df, hot_threshold=1000).toPandas()
        assert hot.cell.tolist() == [7777]

    def test_salted_join_equals_plain_join(self, spark, skewed_df, small_side):
        plain = skewed_df.join(small_side, "cell").select("row_id", "attr")
        salted = salting.salted_cell_join(
            skewed_df, small_side, big_id="row_id", n_salts=4, hot_threshold=1000
        ).select("row_id", "attr")
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, salted.collect()))
        assert a == b

    def test_salt_determinism(self, spark, skewed_df):
        hot = salting.find_hot_cells(skewed_df, hot_threshold=1000)
        s1 = salting.with_salt(skewed_df, hot, "row_id", n_salts=4).select("row_id", "salt")
        s2 = salting.with_salt(skewed_df, hot, "row_id", n_salts=4).select("row_id", "salt")
        assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
        # hot rows spread over all salts; cold rows salt 0
        pdf = salting.with_salt(skewed_df, hot, "row_id", n_salts=4).toPandas()
        assert set(pdf[pdf.cell == 7777].salt) == {0, 1, 2, 3}
        assert set(pdf[pdf.cell != 7777].salt) == {0}


class TestManifest:
    def test_resumable_write_and_verify(self, spark, skewed_df, tmp_path):
        out = str(tmp_path / "out")
        r1 = manifest.resumable_write(skewed_df, out, "row_id", n_buckets=8)
        assert len(r1["written"]) == 8 and not r1["skipped"]
        # all rows present exactly once
        back = spark.read.option("basePath", out).parquet(
            *[f"{out}/bucket={b}" for b in range(8)]
        )
        assert back.count() == 5000
        assert back.select("row_id").distinct().count() == 5000
        # lineage verifies
        v = manifest.verify_against_manifest(spark, out, "row_id").toPandas()
        assert v.ok.all() and len(v) == 8

    def test_resume_skips_completed(self, spark, skewed_df, tmp_path):
        out = str(tmp_path / "out2")
        # simulate partial run: write only buckets 0-2 by truncating loop
        full = manifest.resumable_write(skewed_df, out, "row_id", n_buckets=4)
        assert len(full["written"]) == 4
        r2 = manifest.resumable_write(skewed_df, out, "row_id", n_buckets=4)
        assert r2["written"] == [] and len(r2["skipped"]) == 4

    def test_tamper_detection(self, spark, skewed_df, tmp_path):
        out = str(tmp_path / "out3")
        manifest.resumable_write(skewed_df, out, "row_id", n_buckets=4)
        # tamper: delete one bucket's files
        import shutil

        shutil.rmtree(f"{out}/bucket=2")
        os.makedirs(f"{out}/bucket=2")
        spark.createDataFrame(pd.DataFrame({"row_id": [1], "cell": [0], "val": [0]})).write.mode(
            "overwrite"
        ).parquet(f"{out}/bucket=2")
        v = manifest.verify_against_manifest(spark, out, "row_id").toPandas()
        assert not v[v.bucket == 2].ok.iloc[0]
        assert v[v.bucket != 2].ok.all()

    def test_resume_with_other_n_buckets_raises(self, spark, tmp_path):
        # the finished buckets of a 4-bucket write hold rows that an 8-bucket
        # layout puts elsewhere: skipping them would duplicate rows
        out = str(tmp_path / "nb")
        df = spark.range(200).withColumnRenamed("id", "row_id")
        manifest.resumable_write(df, out, "row_id", n_buckets=4)
        with pytest.raises(ValueError, match="n_buckets"):
            manifest.resumable_write(df, out, "row_id", n_buckets=8)
        assert sorted(os.listdir(out)) == ["_manifest"] + [f"bucket={b}" for b in range(4)]
        assert manifest.completed_buckets(spark, out) == {0, 1, 2, 3}

    @pytest.mark.parametrize("n_rows,n_buckets", [(0, 4), (2, 6)])
    def test_empty_buckets_stay_readable(self, spark, tmp_path, n_rows, n_buckets):
        out = str(tmp_path / "empty")
        df = spark.range(2).withColumnRenamed("id", "row_id").limit(n_rows)
        r = manifest.resumable_write(df, out, "row_id", n_buckets=n_buckets)
        assert r["written"] == list(range(n_buckets))
        v = manifest.verify_against_manifest(spark, out, "row_id").toPandas()
        assert v.ok.all() and sorted(v.bucket) == list(range(n_buckets))
        assert int(v.n_rows.sum()) == n_rows and (v.n_rows == 0).any()

    def test_kill_mid_commit_rewrites_only_uncommitted(
        self, spark, skewed_df, tmp_path, monkeypatch
    ):
        ref, out = str(tmp_path / "ref"), str(tmp_path / "killed")
        manifest.resumable_write(skewed_df, ref, "row_id", n_buckets=4)
        commit, calls = manifest._commit_lineage, []

        def dying(mdir, row):
            if len(calls) == 2:
                raise RuntimeError("killed")
            calls.append(row["bucket"])
            commit(mdir, row)

        monkeypatch.setattr(manifest, "_commit_lineage", dying)
        with pytest.raises(RuntimeError, match="killed"):
            manifest.resumable_write(skewed_df, out, "row_id", n_buckets=4)
        monkeypatch.undo()
        assert manifest.completed_buckets(spark, out) == {0, 1}

        r = manifest.resumable_write(skewed_df, out, "row_id", n_buckets=4)
        assert r == {"written": [2, 3], "skipped": [0, 1]}
        assert not os.path.exists(os.path.join(out, manifest.STAGING_SUBDIR))

        def rows(d):
            return sorted(map(tuple, spark.read.parquet(d).collect()))

        def lineage(d):
            return sorted(map(tuple, manifest.read_manifest(spark, d)
                              .select("bucket", "n_rows", "key_hash_sum", "stage").collect()))

        assert rows(out) == rows(ref)
        assert lineage(out) == lineage(ref)
        # each lineage row equals an independent aggregate of the input
        indep = skewed_df.groupBy(manifest.bucket_col("row_id", 4).alias("bucket")).agg(
            F.count("*"), F.bit_xor(F.xxhash64("row_id")))
        assert [t[:3] for t in lineage(out)] == sorted(map(tuple, indep.collect()))

    @pytest.mark.parametrize("n_buckets", [4, 16])
    def test_one_job_per_write(self, spark, skewed_df, tmp_path, n_buckets):
        # guards against per-bucket producer passes coming back
        sc, out = spark.sparkContext, str(tmp_path / f"jobs{n_buckets}")

        def jobs(group):
            sc.setJobGroup(group, group)
            try:
                manifest.resumable_write(skewed_df, out, "row_id", n_buckets=n_buckets)
            finally:
                sc._jsc.clearJobGroup()
            return len(sc.statusTracker().getJobIdsForGroup(group))

        assert jobs(f"manifest-write-{n_buckets}") == 1
        assert jobs(f"manifest-resume-{n_buckets}") == 0

    def test_producer_sees_each_row_once_per_call(self, spark, skewed_df, tmp_path):
        out = str(tmp_path / "once")
        acc = spark.sparkContext.accumulator(0)

        @F.udf("long")
        def seen(x):
            acc.add(1)
            return x

        # the UDF produces the key, so every bucket filter depends on it: a
        # second producer pass or a re-evaluating filter shows as extra calls
        df = skewed_df.withColumn("row_id", seen("row_id"))
        manifest.resumable_write(df, out, "row_id", n_buckets=4)
        assert acc.value == 5000
        mdir = os.path.join(out, manifest.MANIFEST_SUBDIR)
        for f in os.listdir(mdir):
            if f.endswith(".parquet") and pd.read_parquet(os.path.join(mdir, f)).bucket.iloc[0] >= 2:
                os.remove(os.path.join(mdir, f))
        r = manifest.resumable_write(df, out, "row_id", n_buckets=4)
        assert r["written"] == [2, 3] and acc.value == 10000
        manifest.resumable_write(df, out, "row_id", n_buckets=4)
        assert acc.value == 10000


class TestTableSinkSeam:
    def test_iceberg_unavailable_in_sandbox(self, spark):
        # no Iceberg jars or catalog conf here — the probe must say so
        assert manifest.iceberg_available(spark) is False

    def test_write_table_falls_back_to_manifest(self, spark, skewed_df, tmp_path):
        out = str(tmp_path / "sink")
        r = manifest.write_table(skewed_df, out, "row_id",
                                 table="cat.db.tiles", n_buckets=4)
        assert r["backend"] == "parquet+manifest"
        assert len(r["written"]) == 4
        v = manifest.verify_against_manifest(spark, out, "row_id").toPandas()
        assert v.ok.all()

    def test_write_table_routes_iceberg_when_configured(
        self, spark, skewed_df, tmp_path, monkeypatch
    ):
        calls = []
        monkeypatch.setattr(manifest, "iceberg_available", lambda s: True)
        monkeypatch.setattr(
            manifest, "_write_iceberg",
            lambda df, table, mode: calls.append((table, mode)))
        r = manifest.write_table(skewed_df, str(tmp_path / "x"), "row_id",
                                 table="cat.db.tiles", mode="append")
        assert r == {"backend": "iceberg", "table": "cat.db.tiles"}
        assert calls == [("cat.db.tiles", "append")]
        # no parquet fallback artifacts
        assert not (tmp_path / "x").exists()


    def test_write_table_append_without_iceberg_raises(self, spark, skewed_df, tmp_path):
        # the parquet fallback replaces/resumes buckets: an append there
        # would silently drop the caller's intent
        with pytest.raises(ValueError, match="append"):
            manifest.write_table(skewed_df, str(tmp_path / "x"), "row_id",
                                 table="cat.db.tiles", mode="append")
        assert not (tmp_path / "x").exists()

    def test_iceberg_probe_reads_runtime_conf(self, spark, monkeypatch):
        from types import SimpleNamespace

        # the catalog class "loads" (no Iceberg jars here), so the probe's
        # answer depends only on which confs it reads
        lang = SimpleNamespace(Class=SimpleNamespace(forName=lambda name: name))
        monkeypatch.setattr(spark, "_jvm", SimpleNamespace(java=SimpleNamespace(lang=lang)))
        assert manifest.iceberg_available(spark) is False
        spark.conf.set("spark.sql.catalog.rt_ice", "org.apache.iceberg.spark.SparkCatalog")
        try:
            assert manifest.iceberg_available(spark) is True
        finally:
            spark.conf.unset("spark.sql.catalog.rt_ice")


class TestIncrementalStreaming:
    def test_availablenow_resume(self, spark, tmp_path):
        from rsgislib_spark.streaming.incremental import incremental_event_counts

        src = str(tmp_path / "src")
        out = str(tmp_path / "sink")
        ck = str(tmp_path / "ck")
        ev1 = pd.DataFrame(
            {
                "event_id": np.arange(100, dtype=np.int64),
                "ts": pd.Timestamp("2026-01-01 10:00:00"),
                "user_id": np.arange(100, dtype=np.int64) % 7,
                "event_type": ["click"] * 100,
                "value": np.ones(100),
                "props": ["{}"] * 100,
            }
        )
        spark.createDataFrame(ev1).write.mode("append").parquet(src)
        incremental_event_counts(spark, src, out, ck)
        n1 = spark.read.parquet(out).count()
        assert n1 == 100
        # re-run with no new data: nothing added
        incremental_event_counts(spark, src, out, ck)
        assert spark.read.parquet(out).count() == n1
        # new file lands: only increment processed
        ev2 = ev1.assign(event_id=ev1.event_id + 1000, event_type="view")
        spark.createDataFrame(ev2).write.mode("append").parquet(src)
        incremental_event_counts(spark, src, out, ck)
        out_df = spark.read.parquet(out)
        assert out_df.count() == 200
        assert out_df.filter("event_type = 'view'").count() == 100
