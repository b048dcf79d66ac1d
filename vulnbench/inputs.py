"""Seeded benchmark inputs, written under a directory the caller owns.

Two input families:

- ``vuln_corpus``: the committed ``fixtures/vul-source`` feed corpus with
  every advisory id shifted by an offset the seed chooses. The shift is
  ``tools/gen_pipeline_scale.py``'s global id map, applied with one offset
  to every file body and file name, so every cross-feed reference (NVD
  enrichment keys, the Ubuntu tracker's CVE list) still joins and the
  database keeps its shape. Offset 0 copies the corpus verbatim.
- ``catalog_tables``: the ten parquet tables the query catalog reads
  (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``),
  drawn from numpy's PCG64 with the value domains of the shipped test
  data: uniform keys, the same categorical vocabularies, dates and price
  ranges, random unit embeddings, bag-of-words documents over the same
  31-word vocabulary with a few exact duplicates.

The program under test receives only the generated paths.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# seed -> id offset; 0 leaves ids unchanged, so seeds that are multiples
# of ID_OFFSETS reproduce the committed corpus byte for byte
ID_OFFSETS = 8

FIXTURE_CORPUS = os.path.join("fixtures", "vul-source")


def _scale_tool():
    """``tools/gen_pipeline_scale.py``, whose ``rewrite`` is the id map
    this corpus shares with the repo's scale generator."""
    spec = importlib.util.spec_from_file_location(
        "gen_pipeline_scale", os.path.join(ROOT, "tools", "gen_pipeline_scale.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def id_offset(seed: int) -> int:
    return seed % ID_OFFSETS


def vuln_corpus(out_dir: str, seed: int) -> dict[str, int]:
    """Write the seed's rewrite of the fixture corpus to ``out_dir``.

    Returns ``{"files": n, "bytes": total}`` of what was written."""
    rewrite = _scale_tool().rewrite
    c = id_offset(seed)
    src = os.path.join(ROOT, FIXTURE_CORPUS)
    files = size = 0
    for dirpath, _, names in os.walk(src):
        rel = os.path.relpath(dirpath, src)
        os.makedirs(os.path.join(out_dir, rel), exist_ok=True)
        for name in sorted(names):
            with open(os.path.join(dirpath, name), "rb") as f:
                body = f.read()
            if c:
                name = rewrite(name, c)
                body = rewrite(body.decode("utf-8"), c).encode("utf-8")
            with open(os.path.join(out_dir, rel, name), "wb") as f:
                f.write(body)
            files += 1
            size += len(body)
    return {"files": files, "bytes": size}


# --- catalog tables -------------------------------------------------------

# rows per table; the shipped sf0.01 test data has the same proportions
CATALOG_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EXACT_DUP_DOCS = 8
EMBED_DIM = 64
EMBED_LABELS = 10


def _days(rng, n, start: dt.date, end: dt.date):
    import numpy as np

    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return (rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0).round(2)


def catalog_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten catalog tables for ``seed`` as parquet into
    ``out_dir``. Returns ``{"files": 10, "bytes": total}``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.Generator(np.random.PCG64(seed))
    n = CATALOG_ROWS
    i32, i64 = pa.int32(), pa.int64()
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    npart = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), i64),
            "p_name": np.char.add(
                np.char.add(rng.choice(PART_ADJ, npart), " "),
                rng.choice(PART_NOUN, npart),
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": (900 + (np.arange(npart) % 1000) / 10).round(1),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, no, 1000, 500000),
            "o_orderdate": _days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(float),
            "l_extendedprice": _money(rng, nl, 900, 105000),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": t0 + np.sort(rng.integers(0, month_us, ne)).astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, nc // 10, ne), i64),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": rng.exponential(50.0, ne).round(2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 101, nd)
    ]
    for dst, src in zip(
        rng.choice(nd, EXACT_DUP_DOCS, replace=False),
        rng.choice(nd, EXACT_DUP_DOCS, replace=False),
    ):
        texts[dst] = texts[src]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), i64),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), i64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, EMBED_LABELS, nv), i32),
        }
    )

    size = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        size += os.path.getsize(path)
    return {"files": len(tables), "bytes": size}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def oracle_digests(data_dir: str, queries: list[str]) -> dict[str, str]:
    """Digest of each query's DuckDB oracle result over ``data_dir``."""
    import duckdb

    from checks import digest
    from vul_dbgen_spark.queries import catalog

    con = duckdb.connect()
    try:
        for table in catalog.TABLES:
            path = os.path.join(data_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in queries:
            cur = con.execute(catalog.REGISTRY[name].oracle)
            out[name] = digest([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def main(argv: list[str]) -> int:
    """``inputs.py WORKLOAD SEED OUT_DIR [QUERY...]``: write the inputs to
    ``OUT_DIR/data`` and their description (file count, bytes, id offset
    or oracle digests) to ``OUT_DIR/inputs.json``."""
    workload, seed, out_dir, *queries = argv
    data = fresh_dir(os.path.join(out_dir, "data"))
    if workload == "catalog_mix":
        info = catalog_tables(data, int(seed))
        info["oracle"] = oracle_digests(data, queries)
    else:
        info = vuln_corpus(data, int(seed))
        info["id_offset"] = id_offset(int(seed))
    info["data"] = data
    with open(os.path.join(out_dir, "inputs.json"), "w", encoding="utf-8") as f:
        json.dump(info, f)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main(sys.argv[1:]))
