"""Seeded input generators for the benchmark's workloads.

Every function here is a function of its seed and sizes: the same seed
writes the same input data. The program under test only ever sees these
files; nothing is read from outside the work directory.

The registry tables reproduce the shape of the sf0.1 testdata the
repository's tests read (row counts, key ranges, date ranges, the
documents' vocabulary and copy rates), so query selectivities and
dedup and gate pass rates match it; perfbench/README.md gives the
measured comparison.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 row counts of the TPC-H-style tables the query registry reads
SF01_ROWS = {
    "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000,
    "documents": 5_000, "embeddings": 2_000,
}

#: tables re-laid out as one file per core; the rest stay one file
SPLIT_TABLES = ("lineitem", "orders")

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def write_table(df: pd.DataFrame, path: str, files: int) -> None:
    """Write ``df`` as ``files`` parquet part files under ``path``/."""
    os.makedirs(path, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(df)), files)):
        table = pa.Table.from_pandas(df.iloc[chunk], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def _days(rng: np.random.Generator, n: int, start: str, span_days: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def documents(seed: int, n: int = SF01_ROWS["documents"]):
    """Bag-of-words documents over the sf0.1 testdata's 28-word
    vocabulary: 5% are near copies of an earlier document (one appended
    token) and 0.2% exact copies, so every dedup tier has work to find.

    Returns the table and the planted copies as ``{"near": [...],
    "exact": [...]}`` lists of ``(copy doc_id, source doc_id)``."""
    rng = random.Random(seed)
    texts: list[str] = []
    copies: dict[str, list[tuple[int, int]]] = {"near": [], "exact": []}
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            src = rng.randrange(i)
            texts.append(texts[src] + " dup")
            copies["near"].append((i, src))
        elif i > 10 and roll < 0.052:
            src = rng.randrange(i)
            texts.append(texts[src])
            copies["exact"].append((i, src))
        else:
            texts.append(" ".join(rng.choice(_WORDS)
                                  for _ in range(rng.randint(10, 100))))
    langs = rng.choices(_LANGS, weights=_LANG_P, k=n)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }), copies


def _region(rng):
    return pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def _nation(rng):
    return pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")})


def _customer(rng):
    nc = SF01_ROWS["customer"]
    return pd.DataFrame({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
        "c_acctbal": rng.integers(0, 1_000_000, nc) / 100.0,
        "c_mktsegment": rng.choice(["FURNITURE", "MACHINERY", "AUTOMOBILE",
                                    "BUILDING", "HOUSEHOLD"], nc)})


def _orders(rng):
    no = SF01_ROWS["orders"]
    return pd.DataFrame({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, SF01_ROWS["customer"], no),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": rng.integers(100_000, 50_000_000, no) / 100.0,
        "o_orderdate": _days(rng, no, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})


def _lineitem(rng):
    nl = SF01_ROWS["lineitem"]
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, SF01_ROWS["orders"], nl),
        "l_partkey": rng.integers(0, SF01_ROWS["part"], nl),
        "l_suppkey": rng.integers(0, SF01_ROWS["supplier"], nl),
        "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": rng.integers(90_000, 10_500_000, nl) / 100.0,
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", 2498)})


def _embeddings(rng):
    nv, dim, labels = SF01_ROWS["embeddings"], 64, 10
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, nv)
    vecs = centers[label] * 0.15 + rng.normal(0.0, 1.0, (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pd.DataFrame({
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": list(vecs),
        "label": label.astype("int32")})


#: builders of the registry tables the workloads read, each drawing
#: from its own seeded stream so a table does not depend on which
#: others are built alongside it
TABLES = {"region": _region, "nation": _nation, "customer": _customer,
          "orders": _orders, "lineitem": _lineitem, "embeddings": _embeddings}


def sf_tables(out_dir: str, seed: int, files: int, names) -> None:
    """Write the named sf0.1-sized registry tables under ``out_dir`` as
    ``<name>.parquet/`` directories; ``lineitem`` and ``orders`` are
    split into ``files`` part files (one per core), the rest are one
    file each."""
    for i, name in enumerate(TABLES):
        if name in names:
            df = TABLES[name](np.random.default_rng([seed, i]))
            write_table(df, os.path.join(out_dir, f"{name}.parquet"),
                        files if name in SPLIT_TABLES else 1)


def etl_csvs(spark, out_dir: str, seed: int, n_orders: int) -> dict[str, int]:
    """Land the program's own dirty fixtures (plans.fixtures) for this
    seed as one CSV per bronze table, the shape the CSV ingest reads."""
    from medallion_data_pipeline_spark.plans import fixtures

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, df in fixtures.generate_bronze(spark, n_orders=n_orders,
                                             seed=seed).items():
        pdf = df.toPandas()
        pdf.to_csv(os.path.join(out_dir, f"{name}.csv"), index=False)
        rows[name] = len(pdf)
    return rows


def stream_drops(docs: pd.DataFrame, out_dir: str, seed: int,
                 files: int) -> None:
    """Split ``docs`` into ``files`` seeded parquet drops whose
    modification times increase with their index, so a file-source
    stream reading one file per trigger takes them in a fixed order."""
    os.makedirs(out_dir, exist_ok=True)
    order = np.random.default_rng(seed).permutation(len(docs))
    base = datetime(2024, 1, 1).timestamp()
    for i, chunk in enumerate(np.array_split(order, files)):
        path = os.path.join(out_dir, f"drop-{i:03d}.parquet")
        table = pa.Table.from_pandas(
            docs.iloc[np.sort(chunk)][["doc_id", "text"]], preserve_index=False)
        pq.write_table(table, path)
        stamp = base + timedelta(minutes=i).total_seconds()
        os.utime(path, (stamp, stamp))
