"""Seeded benchmark inputs.

The TPC-H-ish tables of the reference test corpus (the data the oracle gate
in scripts/driver_check.py runs on) are not generated by anything in the
repo, so the base tables (region .. events) are drawn here with the same
schemas and value domains as its sf0.01 scale. Documents and embeddings come
from ``scripts/gen_sf.py``'s generator, and every larger scale is built by
``gen_sf.expand_shifted`` / ``gen_sf.expand_corpus`` (FK-consistent key
shifts plus fresh corpus rows), so each scale is a function of the seed
alone.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# rows per table (and distinct event users) at sf0.01, the reference
# corpus' shape. Embeddings are its sf0.1 count: on 2,000 i.i.d. vectors
# k-means runs its full max_iter Lloyd rounds on every seed, where on a few
# hundred the round count (and so the pass time) swings with the seed.
BASE_ROWS = {"customer": 1_500, "supplier": 100, "part": 2_000,
             "orders": 15_000, "lineitem": 60_000, "events": 10_000,
             "users": 150, "documents": 500, "embeddings": 2_000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _gen_sf():
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import gen_sf
    return gen_sf


def _days(rng, n, lo, hi):
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int)
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def write_base(out: str, seed: int, shrink: int = 1) -> None:
    """The sf0.01-shaped corpus for ``seed`` in ``out``, with every table
    but the fixed dimensions ``shrink`` times smaller."""
    rng = np.random.default_rng(seed)
    R = {t: max(n // shrink, 10) for t, n in BASE_ROWS.items()}
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": {"r_regionkey": pa.array(range(5), i32),
                   "r_name": pa.array(REGIONS)},
        "nation": {"n_nationkey": pa.array(range(25), i32),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)},
    }
    n = R["customer"]
    tables["customer"] = {
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, n)}
    n = R["supplier"]
    tables["supplier"] = {
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": pa.array(_money(rng, n, -999.99, 9999.99))}
    n = R["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = {
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) / 10, 1))}
    n = R["orders"]
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, R["customer"], n), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, n, 1000, 500000)),
        "o_orderdate": pa.array(_days(rng, n, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, PRIORITIES, n)}
    n = R["lineitem"]
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, R["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, R["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, R["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
        "l_extendedprice": pa.array(_money(rng, n, 900, 105000)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(_days(rng, n, "1995-01-02", "2001-11-04"))}
    n = R["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    tables["events"] = {
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, R["users"], n), i64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])}
    docs = _gen_sf().gen_documents(random.Random(seed), R["documents"], 0)
    tables["documents"] = {
        "doc_id": pa.array([r[0] for r in docs], i64),
        "text": pa.array([r[1] for r in docs]),
        "lang": pa.array([r[2] for r in docs]),
        "source": pa.array([r[3] for r in docs]),
        "n_chars": pa.array([r[4] for r in docs], i64)}
    n = R["embeddings"]
    mat = rng.standard_normal((n, 64)).astype(np.float32)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(mat.reshape(-1), pa.float32()), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32)}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def expand(src: str, out: str, factor: int, seed: int) -> None:
    """``factor``× copy of ``src`` built with gen_sf's expanders."""
    import duckdb
    g = _gen_sf()
    con = duckdb.connect()
    try:
        g.expand_shifted(con, src, out, factor)
        g.expand_corpus(con, src, out, factor, seed=seed)
    finally:
        con.close()


def table_stats(sf_dir: str) -> dict:
    """Rows and on-disk bytes per table."""
    return {t: {"rows": pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet"))
                .metadata.num_rows,
                "bytes": os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))}
            for t in TABLES}


# scale -> (shrink of the base tables, gen_sf expansion of the sf0.01 base)
SCALES = {"sf0.001": (10, 1), "sf0.01": (1, 1), "sf0.1": (1, 10)}


def _version() -> str:
    """Fingerprint of the generators, so a cached corpus built by other
    generator code is never reused."""
    h = hashlib.sha1()
    for path in (__file__, os.path.join(REPO, "scripts", "gen_sf.py")):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:10]


def corpus(root: str, seed: int, scale: str) -> str:
    """Directory holding the seed's corpus at ``scale`` (a key of SCALES),
    built once and reused by later runs with the same seed."""
    d = os.path.join(root, _version(), f"seed{seed}", scale)
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shrink, factor = SCALES[scale]
    base = corpus(root, seed, "sf0.01") if factor > 1 else None
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if base is None:
        write_base(tmp, seed, shrink)
    else:
        expand(base, tmp, factor, seed)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d
