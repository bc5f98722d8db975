"""kernels.arrowmap: the one Arrow map primitive — column extraction,
typed output assembly, the int32-offset batch split, whole-partition
mode — and a source guard that keeps the boundary code in that module."""

from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

from rsgislib_spark.kernels import arrowmap

PKG = Path(__file__).resolve().parents[1] / "rsgislib_spark"


def test_arrow_boundary_code_lives_only_in_arrowmap():
    banned = (".mapInArrow(", "RecordBatch.from_arrays", "RecordBatch.from_pandas",
              "_batch_cols")
    home = PKG / "kernels" / "arrowmap.py"
    offenders = [
        f"{path.relative_to(PKG)}: {b}"
        for path in sorted(PKG.rglob("*.py"))
        if path != home
        for b in banned
        if b in path.read_text()
    ]
    assert not offenders, offenders
    assert home.read_text().count(".mapInArrow(") == 1
    assert "mapInPandas" not in (PKG / "pipeline.py").read_text()


def _schema(ddl_fields):
    return pa.schema([pa.field(n, t) for n, t in ddl_fields])


def test_batch_columns_types():
    b = pa.RecordBatch.from_arrays(
        [pa.array([1, 2], pa.int32()), pa.array([0.5, 1.5]), pa.array([b"ab", b"c"]),
         pa.array(["x", "y"]), pa.array([True, False])],
        names=["i", "f", "b", "s", "t"],
    )
    cols = arrowmap.batch_columns(b)
    assert cols["i"].dtype == np.int32 and cols["f"].dtype == np.float64
    assert [bytes(v) for v in cols["b"]] == [b"ab", b"c"]
    assert isinstance(cols["b"][0], memoryview)  # zero-copy slice
    assert cols["s"] == ["x", "y"] and cols["t"].dtype == bool


def test_concat_columns_keeps_kinds():
    a = {"k": np.array([1, 2]), "s": ["a", "b"]}
    b = {"k": np.array([3]), "s": ["c"]}
    out = arrowmap.concat_columns([a, b])
    assert out["k"].tolist() == [1, 2, 3] and out["s"] == ["a", "b", "c"]
    assert arrowmap.concat_columns([a]) is a
    assert arrowmap.concat_columns([]) is None


def test_record_batches_typed_from_schema():
    schema = _schema([("id", pa.string()), ("n", pa.int32()), ("v", pa.list_(pa.float64()))])
    (rb,) = arrowmap.record_batches(
        {"id": ["a", "b"], "n": np.array([1, 2], np.int64), "v": [[0.5], []]}, schema
    )
    assert rb.schema == schema
    assert rb.column(1).to_pylist() == [1, 2]
    with pytest.raises(pa.ArrowInvalid):  # a lossy narrowing fails loudly
        list(arrowmap.record_batches(
            {"id": ["a"], "n": np.array([2**40]), "v": [[]]}, schema))
    assert list(arrowmap.record_batches({"id": [], "n": [], "v": []}, schema)) == []


def test_record_batches_split_at_binary_ceiling():
    schema = _schema([("k", pa.int64()), ("p", pa.binary()), ("q", pa.binary())])
    sizes = [4, 4, 4, 9, 1, 1, 4]
    p = [np.full(s, i, np.uint8) for i, s in enumerate(sizes)]
    q = [bytes([i]) for i in range(len(sizes))]
    out = {"k": np.arange(len(sizes)), "p": p, "q": q}
    batches = list(arrowmap.record_batches(out, schema, ceiling=8))
    # greedy ≤ 8 bytes per binary column; the 9-byte row travels alone
    assert [b.num_rows for b in batches] == [2, 1, 1, 3]
    assert all(b.schema == schema for b in batches)
    table = pa.Table.from_batches(batches)
    assert table.column("k").to_pylist() == list(range(len(sizes)))
    assert table.column("p").to_pylist() == [a.tobytes() for a in p]
    assert table.column("q").to_pylist() == q
    (whole,) = arrowmap.record_batches(out, schema)
    assert pa.Table.from_batches([whole]).equals(table.combine_chunks())


def test_arrow_map_per_batch_and_whole_partition(spark):
    df = spark.range(0, 5000, numPartitions=1)
    per_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    def count(cols):
        return {"n": [len(cols["id"])], "s": [int(cols["id"].sum())]}

    rows = arrowmap.arrow_map(df, count, "n long, s long").collect()
    assert len(rows) == -(-5000 // per_batch)
    assert sum(r["n"] for r in rows) == 5000
    (whole,) = arrowmap.arrow_map(df, count, "n long, s long", whole_partition=True).collect()
    assert (whole["n"], whole["s"]) == (5000, sum(range(5000)))
    # empty partitions and None results emit nothing
    assert arrowmap.arrow_map(spark.range(0), count, "n long, s long").count() == 0
    assert arrowmap.arrow_map(df, lambda cols: None, "n long, s long").count() == 0
