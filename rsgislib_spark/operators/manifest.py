"""Checkpoint-resumable writes with per-bucket lineage manifests.

North-rule requirement the reference lacks entirely (its tiled pipelines
delete temp dirs and restart from zero — ``segmentation/tiledclump.py:
120-124,220-223``): a killed job must restart without recomputing
finished partitions.

Design (Iceberg-snapshot style, parquet-native so it runs in this
container): output is bucketed by a deterministic hash of a key column
into ``out_dir/bucket=<b>/``, and each committed bucket has one LINEAGE
row ``(n_rows, key_hash_sum, bucket, stage, n_buckets)`` in its own
parquet file under ``out_dir/_manifest/``.

- One producer pass per call: a single ``partitionBy("bucket")`` job
  stages every pending bucket under ``out_dir/_staging/``. A
  ``pyspark.sql.Observation`` on the same pass computes each bucket's
  lineage from the rows handed to the writer, not from the written
  files, so :func:`verify_against_manifest` stays an independent check.
- Per-bucket commit on the driver, in ascending bucket order: the staged
  directory replaces ``out_dir/bucket=<b>`` (``os.rename``), then the
  bucket's lineage file is written under a dot-prefixed temp name and
  ``os.replace``-d into place. A bucket is committed exactly when its
  lineage file exists.
- Restart: the driver reads the ``bucket`` column of the lineage files
  with pyarrow (no Spark job) and writes only the missing buckets.

Durability granularity: a kill *between* calls resumes only the missing
buckets. A kill *inside* a call loses that call's uncommitted buckets;
re-running them costs one producer pass. Iceberg commits the same way:
one write job, then a commit written by the driver.

The lineage hash (bit_xor of xxhash64 of the key, order-independent and
overflow-free) lets a verifier re-check any bucket against its files
without re-running the producer.

Determinism: bucket = pmod(xxhash64(key), n_buckets) — stable across
retries, executors, and salting (same hash family as operators.salting).
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

MANIFEST_SUBDIR = "_manifest"
STAGING_SUBDIR = "_staging"
LINEAGE_SCHEMA = pa.schema([
    ("n_rows", pa.int64()),
    ("key_hash_sum", pa.int64()),
    ("bucket", pa.int32()),
    ("stage", pa.string()),
    ("n_buckets", pa.int32()),
])


def bucket_col(id_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("int")


def _lineage_column(out_dir: str, name: str) -> list:
    """One column of every committed lineage file, read on the driver.
    Files written before the column existed contribute nothing."""
    mdir = os.path.join(out_dir, MANIFEST_SUBDIR)
    if not os.path.isdir(mdir):
        return []
    vals = []
    for f in sorted(os.listdir(mdir)):
        if f.startswith((".", "_")) or not f.endswith(".parquet"):
            continue
        with pq.ParquetFile(os.path.join(mdir, f)) as pf:
            if name in pf.schema_arrow.names:
                vals += pf.read(columns=[name]).column(name).to_pylist()
    return vals


def completed_buckets(spark: SparkSession, out_dir: str) -> set:
    """Buckets with a committed lineage row (pyarrow, no Spark job)."""
    return {int(b) for b in _lineage_column(out_dir, "bucket")}


def _commit_lineage(mdir: str, row: dict) -> None:
    """Publish one bucket's lineage row atomically: readers skip
    dot-prefixed names, so the file appears only at ``os.replace``."""
    name = f"bucket-{row['bucket']:05d}.parquet"
    tmp = os.path.join(mdir, f".{name}.tmp")
    pq.write_table(pa.Table.from_pylist([row], schema=LINEAGE_SCHEMA), tmp)
    os.replace(tmp, os.path.join(mdir, name))


def resumable_write(
    df: DataFrame,
    out_dir: str,
    id_col: str,
    n_buckets: int = 16,
    stage: str = "tiles",
) -> dict:
    """Write ``df`` to ``out_dir/bucket=<b>/`` with one lineage commit per
    bucket, running the producer once.

    Buckets already in the manifest are skipped; the pending ones are
    written by one ``partitionBy`` job to ``out_dir/_staging`` and
    committed on the driver in ascending order (data rename, then
    lineage file). A kill between calls resumes only the missing
    buckets; a kill inside a call loses its uncommitted buckets, which
    the next call re-writes in one producer pass. Every committed bucket
    holds at least a schema-only file, so empty buckets stay readable.

    Returns {"written": [...], "skipped": [...]}, both ascending. Raises
    ValueError if ``out_dir``'s manifest was written with another
    ``n_buckets``: its finished buckets would hold rows of other buckets.
    """
    recorded = set(_lineage_column(out_dir, "n_buckets")) - {n_buckets}
    if recorded:
        raise ValueError(
            f"{out_dir} was written with n_buckets={sorted(recorded)}, not "
            f"{n_buckets}; resume with the same n_buckets or use a new out_dir."
        )
    done = completed_buckets(df.sparkSession, out_dir)
    pending = [k for k in range(n_buckets) if k not in done]
    skipped = [k for k in range(n_buckets) if k in done]
    if not pending:
        return {"written": [], "skipped": skipped}

    # each pending bucket's lineage, observed on the write's own pass
    obs = Observation()
    metrics = []
    for k in pending:
        in_k = F.col("bucket") == k
        metrics += [
            F.count(F.when(in_k, 1)).alias(f"n_rows_{k}"),
            F.coalesce(F.bit_xor(F.when(in_k, F.xxhash64(id_col))), F.lit(0))
            .alias(f"key_hash_sum_{k}"),
        ]
    staging = os.path.join(out_dir, STAGING_SUBDIR)
    shutil.rmtree(staging, ignore_errors=True)  # left by a killed call
    staged = df.withColumn("bucket", bucket_col(id_col, n_buckets)).observe(obs, *metrics)
    if done:
        # above the observe, which Catalyst pushes no filter through: a
        # filter below it would evaluate Python producer columns twice
        staged = staged.filter(F.col("bucket").isin(pending))
    staged.write.partitionBy("bucket").parquet(staging)
    lineage = obs.get

    # a partitioned write makes no directory for an empty bucket: give it
    # a schema-only file (limit(0) runs no producer pass)
    empty = os.path.join(staging, "_empty")
    if any(lineage[f"n_rows_{k}"] == 0 for k in pending):
        df.limit(0).write.parquet(empty)
    mdir = os.path.join(out_dir, MANIFEST_SUBDIR)
    os.makedirs(mdir, exist_ok=True)
    for k in pending:
        src = os.path.join(staging, f"bucket={k}")
        if lineage[f"n_rows_{k}"] == 0:
            shutil.copytree(empty, src, ignore=shutil.ignore_patterns("_*", "._*"))
        dst = os.path.join(out_dir, f"bucket={k}")
        shutil.rmtree(dst, ignore_errors=True)  # uncommitted data of a killed call
        os.rename(src, dst)
        _commit_lineage(mdir, {
            "n_rows": lineage[f"n_rows_{k}"],
            "key_hash_sum": lineage[f"key_hash_sum_{k}"],
            "bucket": k, "stage": stage, "n_buckets": n_buckets,
        })
    shutil.rmtree(staging)
    return {"written": pending, "skipped": skipped}


# ----------------------------------------------- pluggable table-format sink
#
# Same seam pattern as the codec / CRS / ML backends: parquet + the
# manifest layer above is the builtin (runs anywhere); when the session
# has an Iceberg catalog configured (jars on the classpath +
# spark.sql.catalog.* set — absent in this sandbox), the sink routes
# through `df.writeTo(table)` and ACID snapshots/resume become Iceberg's
# job. One deploy-time config flip, no operator changes.

def iceberg_available(spark: SparkSession) -> bool:
    """True when this session can write Iceberg tables: an Iceberg
    SparkCatalog is configured AND its class loads (probed once per
    call — cheap JVM reflection, no table I/O)."""
    try:
        # launch-time confs live on the SparkContext; catalogs set later
        # with spark.conf.set live only in the runtime SQL conf
        confs = dict(spark.sparkContext.getConf().getAll())
        confs.update(spark.conf.getAll)
        has_catalog = any(
            k.startswith("spark.sql.catalog.") and "iceberg" in v.lower()
            for k, v in confs.items()
        )
        if not has_catalog:
            return False
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 — probe only
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _write_iceberg(df: DataFrame, table: str, mode: str) -> None:
    w = df.writeTo(table)
    if mode == "append":
        w.append()
    else:
        w.createOrReplace()


def write_table(
    df: DataFrame,
    out_dir: str,
    id_col: str,
    table: str | None = None,
    n_buckets: int = 16,
    stage: str = "tiles",
    mode: str = "replace",
) -> dict:
    """Table sink with a pluggable format backend.

    With ``table`` set and an Iceberg catalog configured, writes through
    ``df.writeTo(table)`` (snapshot isolation, hidden partitioning —
    ``bucket(N, id)`` replaces the manual bucket column). Otherwise falls
    back to :func:`resumable_write`'s parquet + lineage-manifest layout,
    which provides the same restart-without-recompute guarantee with no
    extra jars. That layout replaces or resumes buckets and cannot
    append, so ``mode="append"`` without Iceberg raises. Returns a dict
    whose ``backend`` key says which path ran.
    """
    spark = df.sparkSession
    if table is not None and iceberg_available(spark):
        _write_iceberg(df, table, mode)
        return {"backend": "iceberg", "table": table}
    if mode == "append":
        raise ValueError(
            "write_table(mode='append') cannot be honored without an Iceberg "
            "catalog: the parquet+manifest fallback replaces or resumes "
            "buckets. Configure an Iceberg catalog, or use mode='replace'."
        )
    res = resumable_write(df, out_dir, id_col, n_buckets=n_buckets, stage=stage)
    res["backend"] = "parquet+manifest"
    return res


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, MANIFEST_SUBDIR))


def verify_against_manifest(spark: SparkSession, out_dir: str, id_col: str) -> DataFrame:
    """Re-hash every written bucket and compare with its lineage row —
    returns rows with ok boolean per bucket."""
    man = read_manifest(spark, out_dir).select("bucket", "n_rows", "key_hash_sum")
    data = spark.read.option("basePath", out_dir).parquet(
        *[
            os.path.join(out_dir, d)
            for d in os.listdir(out_dir)
            if d.startswith("bucket=")
        ]
    )
    actual = data.groupBy("bucket").agg(
        F.count("*").alias("actual_rows"),
        F.expr(f"bit_xor(xxhash64({id_col}))").alias("actual_hash"),
    )
    return (
        man.join(actual, "bucket", "left")
        .withColumn(
            "ok",
            (F.col("n_rows") == F.coalesce(F.col("actual_rows"), F.lit(0)))
            & (
                (F.col("n_rows") == 0)
                | (F.col("key_hash_sum") == F.col("actual_hash"))
            ),
        )
        .select("bucket", "n_rows", "actual_rows", "ok")
    )
