"""Seeded benchmark inputs, generated once per (kind, size, seed) and cached.

Every table is a pure function of its seed: the catalog tables come from a
numpy Philox stream, the image table from ``datagen.gen_images_rows``.
A finished table is marked with a ``_DONE`` file, so an
interrupted generation is rebuilt instead of read.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_WORDS = (
    "row the query stream fast spark line small customer group value hash batch "
    "sort data big filter dup key agg scan slow table part a merge window order "
    "column join vector"
).split()


def _rng(seed: int, table: str) -> np.random.Generator:
    tag = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.Generator(np.random.Philox(key=[seed, tag]))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    a = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - a).astype(int)
    return (a + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def catalog_frames(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """The catalog's ten tables at scale ``sf`` (row counts, column types and
    value domains of the TPC-H-like tables the queries were written for)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), min(2_000, int(50_000 * sf))
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    r = _rng(seed, "customer")
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    r = _rng(seed, "supplier")
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    adj = np.array(["blue", "old", "red", "small", "new", "hot", "large", "cold"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"])
    t["part"] = pd.DataFrame({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(r.choice(adj, n_part), " "), r.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": r.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })
    r = _rng(seed, "orders")
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    r = _rng(seed, "lineitem")
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["O", "F"], n_li),
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n_li),
    })
    r = _rng(seed, "events")
    secs = np.sort(r.uniform(0, 30 * 86400, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + (secs * 1e6).astype(np.int64).astype("timedelta64[us]"),
        "user_id": r.integers(0, max(1, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": r.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    r = _rng(seed, "documents")
    lens = r.integers(10, 100, n_doc)
    words = r.integers(0, len(_WORDS), int(lens.sum()))
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(_WORDS[w] for w in words[at : at + n]))
        at += n
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": r.choice(["en", "es", "fr", "de", "zh"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": np.char.add("src", r.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    r = _rng(seed, "embeddings")
    v = r.normal(size=(n_emb, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(v.astype(np.float32)),
        "label": r.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def _publish(path: str, write) -> str:
    """Run ``write(tmp_dir)`` and move the result to ``path`` atomically."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def catalog_dir(data_dir: str, sf: float, seed: int, tables=CATALOG_TABLES) -> str:
    """Directory of ``<table>.parquet`` files for ``sf`` and ``seed``."""
    name = f"catalog_sf{sf}_seed{seed}" + ("" if tables == CATALOG_TABLES else "_" + "_".join(tables))

    def write(tmp):
        for tname, df in catalog_frames(sf, seed).items():
            if tname in tables:
                df.to_parquet(os.path.join(tmp, f"{tname}.parquet"), index=False)

    return _publish(os.path.join(data_dir, name), write)


def images_dir(data_dir: str, n: int, seed: int, files: int = 1) -> str:
    """``n`` bytes-bearing images from ``datagen.gen_images_rows``, in
    ``files`` parquet files of consecutive rows (``part-<i>.parquet``). Row
    groups of 64 rows (about 1.2 MB) let an 8 MiB scan split spread a large
    file over the cores; a few files of under 8 MiB each become one scan
    task apiece."""
    from rsgislib_spark import datagen

    def write(tmp):
        df = datagen.gen_images_rows(range(n), seed=seed, with_pixels=True)
        for i, part in enumerate(np.array_split(np.arange(n), files)):
            df.iloc[part].to_parquet(os.path.join(tmp, f"part-{i}.parquet"),
                                     index=False, row_group_size=64)

    return _publish(os.path.join(data_dir, f"images_n{n}_f{files}_seed{seed}"), write)


def table_hash(path: str) -> str:
    """SHA-256 over the Arrow IPC encoding of every parquet table under
    ``path`` (files in name order): equal iff the tables' contents are."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        table = pq.read_table(os.path.join(path, name))
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()
