"""Seeded input generator for the benchmark.

Everything the program reads is made here from the workload seed, with
pyarrow only, so the same seed gives byte-identical files:

- ``write_corpus``: the engine's corpus tables (the schemas of
  ``catalog.SCHEMAS``) at a scale factor, either one file per table or
  split into a folder of many small files per table (``<name>.parquet/``)
  with each column's physical type kept — ``events.ts`` is written as
  TIMESTAMP(NANOS), the type stock Spark cannot read without the
  catalog's fix.
- ``write_source_batch``: small CSV.gz and Parquet source batches for the
  ingest workload, with the expected row count and checksum of each.

Each writer returns a manifest of the files and bytes it produced.
"""

from __future__ import annotations

import gzip
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query stream order group "
    "big vector filter"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "black", "white", "gold"]
NOUNS = ["widget", "bolt", "ring", "gear", "pipe", "valve", "spring", "nut"]
LANGS = ["de", "en", "es", "fr", "zh"]
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400  # 1995-01-01T00:00:00Z, seconds
_EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z, seconds
_WRITE_OPTS = {"compression": "snappy", "version": "2.6"}


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start_s: int, n_days: int, n: int) -> pa.Array:
    us = start_s * 1_000_000 + rng.integers(0, n_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def make_tables(sf: float, seed: int, only: tuple[str, ...] | None = None) -> dict[str, pa.Table]:
    """The corpus tables at scale factor ``sf``. Row counts follow the
    engine's corpus (lineitem 6M x sf, orders 1.5M x sf, ...); values follow
    its domains (TPC-H-style keys and prices, one month of events, a
    31-word document vocabulary with appended-marker near duplicates, and
    64-d unit embeddings around 10 label centroids)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    want = set(only or ())

    def wanted(name: str) -> bool:
        return not want or name in want

    out: dict[str, pa.Table] = {}
    # each table draws from its own child stream, so subsetting tables
    # (``only``) does not change the ones that are generated
    streams = dict(zip(
        ["customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"],
        rng.spawn(8),
    ))
    if wanted("region"):
        out["region"] = pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })
    if wanted("nation"):
        out["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if wanted("customer"):
        r = streams["customer"]
        out["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_cust)]),
        })
    if wanted("supplier"):
        r = streams["supplier"]
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        })
    if wanted("part"):
        r = streams["part"]
        names = np.array([f"{c} {n}" for c in COLORS for n in NOUNS])
        keys = np.arange(n_part)
        out["part"] = pa.table({
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": pa.array(names[r.integers(0, len(names), n_part)]),
            "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, n_part)]),
            "p_type": pa.array(np.array(P_TYPES)[r.integers(0, len(P_TYPES), n_part)]),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        })
    if wanted("orders"):
        r = streams["orders"]
        out["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(r, _EPOCH_1995, 2405, n_ord),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n_ord)]),
        })
    if wanted("lineitem"):
        r = streams["lineitem"]
        qty = r.integers(1, 51, n_li).astype(np.float64)
        out["lineitem"] = pa.table({
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
            "l_shipdate": _days(r, _EPOCH_1995 + 86_400, 2499, n_li),
        })
    if wanted("events"):
        r = streams["events"]
        # one month of arrivals; nanosecond stamps, so the NANOS column
        # carries sub-microsecond digits the reader must truncate
        gaps = r.exponential(30 * 86_400e9 / n_ev, n_ev)
        ts_ns = _EPOCH_2024 * 10**9 + np.cumsum(gaps).astype(np.int64)
        n_users = max(150, int(15_000 * sf))
        out["events"] = pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts_ns, pa.timestamp("ns")),
            "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)]),
            "value": np.round(r.exponential(50.0, n_ev) + 0.01, 2),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
        })
    if wanted("documents"):
        r = streams["documents"]
        texts: list[str] = []
        for i in range(n_doc):
            if i > 10 and r.random() < 0.05:
                # near duplicate: an earlier document plus a marker word
                texts.append(texts[int(r.integers(0, i))] + " dup")
            else:
                k = int(r.integers(10, 100))
                texts.append(" ".join(np.array(WORDS)[r.integers(0, len(WORDS), k)]))
        out["documents"] = pa.table({
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": pa.array(np.array(LANGS)[r.integers(0, 5, n_doc)]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
    if wanted("embeddings"):
        r = streams["embeddings"]
        centroids = r.normal(0.0, 1.0, (10, EMBED_DIM))
        centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
        labels = r.integers(0, 10, n_emb)
        vecs = 0.15 * centroids[labels] + r.normal(0.0, 1.0 / np.sqrt(EMBED_DIM), (n_emb, EMBED_DIM))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        out["embeddings"] = pa.table({
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        })
    return out


def _split_points(rng: np.random.Generator, n_rows: int, n_files: int) -> list[int]:
    """Uneven cut points: real folders of small blobs are not equal-sized."""
    if n_files <= 1 or n_rows <= n_files:
        return [0, n_rows]
    cuts = np.sort(rng.choice(np.arange(1, n_rows), n_files - 1, replace=False))
    return [0, *cuts.tolist(), n_rows]


def write_corpus(
    dest: str,
    sf: float,
    seed: int,
    files_per_table: dict[str, int] | None = None,
    only: tuple[str, ...] | None = None,
) -> dict:
    """Write the corpus under ``dest``. Tables named in ``files_per_table``
    become folders of that many files (seeded uneven splits); the rest are
    single files. Returns ``{"files": N, "bytes": B, "tables": {...}}``."""
    os.makedirs(dest, exist_ok=True)
    files_per_table = files_per_table or {}
    rng = np.random.default_rng([seed, 1])
    manifest = {"files": 0, "bytes": 0, "tables": {}}
    for name, table in make_tables(sf, seed, only).items():
        path = os.path.join(dest, f"{name}.parquet")
        n_files = files_per_table.get(name, 0)
        if n_files:
            os.makedirs(path, exist_ok=True)
            cuts = _split_points(rng, table.num_rows, n_files)
            targets = []
            for i in range(len(cuts) - 1):
                part = os.path.join(path, f"part-{i:05d}.parquet")
                pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), part, **_WRITE_OPTS)
                targets.append(part)
        else:
            pq.write_table(table, path, **_WRITE_OPTS)
            targets = [path]
        size = sum(os.path.getsize(p) for p in targets)
        manifest["tables"][name] = {"rows": table.num_rows, "files": len(targets), "bytes": size}
        manifest["files"] += len(targets)
        manifest["bytes"] += size
    return manifest


def make_source_batch(rows: int, seed: int, first_id: int) -> pa.Table:
    """One ingest source batch in the ``events`` schema. ``props`` holds no
    quote or comma, so the CSV form needs no quoting."""
    r = np.random.default_rng(seed)
    ts = _EPOCH_2024 * 1_000_000 + np.sort(r.integers(0, 30 * _DAY_US, rows))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + rows), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 500, rows), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, rows)]),
        "value": np.round(r.exponential(25.0, rows) + 0.01, 2),
        "props": pa.array([f"k={k}" for k in r.integers(0, 100, rows)]),
    })


def write_source_batch(dest: str, fmt: str, n_files: int, rows_per_file: int, seed: int) -> dict:
    """Write ``n_files`` small source files (``csv.gz`` or ``parquet``)
    into ``dest``. Returns the paths, bytes, row count and the sum of
    ``event_id`` (a checksum the re-read outputs must reproduce)."""
    os.makedirs(dest, exist_ok=True)
    paths, rows, id_sum = [], 0, 0
    for i in range(n_files):
        t = make_source_batch(rows_per_file, seed * 1000 + i, first_id=(seed % 1000 * 1000 + i) * rows_per_file)
        if fmt == "csv.gz":
            p = os.path.join(dest, f"batch-{i:04d}.csv.gz")
            buf = io.BytesIO()
            pacsv.write_csv(t, buf, pacsv.WriteOptions(include_header=False))
            # mtime=0: gzip headers otherwise embed the wall clock
            with open(p, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as gz:
                gz.write(buf.getvalue())
        else:
            p = os.path.join(dest, f"batch-{i:04d}.parquet")
            pq.write_table(t, p, **_WRITE_OPTS)
        paths.append(p)
        rows += t.num_rows
        id_sum += int(np.asarray(t.column("event_id")).sum())
    return {"paths": paths, "bytes": sum(os.path.getsize(p) for p in paths), "rows": rows, "id_sum": id_sum}
