"""Seeded input corpora for the benchmark.

The fact tables come from ``tools/gen_stress.py``'s generator functions,
imported as they are. The four small dimension tables, which that script
does not produce, are generated here with the fixture's value shapes
(``Supplier#000000007``, ``NATION_3``, balances in [-999.99, 9999.99]).
Every table is cast to the fixture's physical schema, pinned below from
the sf0.1 parquet files: the generator emits int64 for ``l_linenumber``,
``p_size`` and ``label``, which the fixtures store as int32.

``mult=1`` gives the sf0.1 row counts (600k lineitem, 150k orders);
``mult=k`` grows every fact table and key space k-fold.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Physical schema of the sf0.1 fixture, table by table.
FIXTURE_SCHEMA: dict[str, list[tuple[str, pa.DataType]]] = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [
        ("n_nationkey", pa.int32()),
        ("n_name", pa.string()),
        ("n_regionkey", pa.int32()),
    ],
    "supplier": [
        ("s_suppkey", pa.int64()),
        ("s_name", pa.string()),
        ("s_nationkey", pa.int32()),
        ("s_acctbal", pa.float64()),
    ],
    "customer": [
        ("c_custkey", pa.int64()),
        ("c_name", pa.string()),
        ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ],
    "part": [
        ("p_partkey", pa.int64()),
        ("p_name", pa.string()),
        ("p_brand", pa.string()),
        ("p_type", pa.string()),
        ("p_size", pa.int32()),
        ("p_retailprice", pa.float64()),
    ],
    "orders": [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ],
    "lineitem": [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ],
    "events": [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ],
    "documents": [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ],
    "embeddings": [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ],
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _gen_stress(root: str):
    """``tools/gen_stress.py`` of the checkout at ``root``."""
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import gen_stress

    return gen_stress


def _balances(n: int, rng: np.random.Generator) -> pa.Array:
    return pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n), 2))


def gen_dims(mult: int, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_supp, n_cust = 1_000 * mult, 15_000 * mult
    return {
        "region": pa.table(
            {"r_regionkey": np.arange(5), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": np.arange(25) % 5,
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, size=n_supp),
                "s_acctbal": _balances(n_supp, rng),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, size=n_cust),
                "c_acctbal": _balances(n_cust, rng),
                "c_mktsegment": rng.choice(SEGMENTS, size=n_cust),
            }
        ),
    }


def to_fixture_schema(name: str, table: pa.Table) -> pa.Table:
    """``table`` with the fixture's column order and physical types."""
    schema = pa.schema(FIXTURE_SCHEMA[name])
    return table.select(schema.names).cast(schema)


def generate(root: str, mult: int, seed: int) -> dict[str, pa.Table]:
    """All ten fixture tables at ``mult`` × sf0.1, drawn from ``seed``."""
    gs = _gen_stress(root)
    rng = np.random.default_rng(seed)
    tables = gen_dims(mult, rng)
    tables["part"], tables["orders"], tables["lineitem"] = gs.gen_tpch_shape(
        mult, rng
    )
    tables["events"] = gs.gen_events(mult, rng)
    tables["documents"] = gs.gen_documents(5_000 * mult, rng)
    tables["embeddings"] = gs.gen_embeddings(2_000 * mult, rng)
    return {n: to_fixture_schema(n, t) for n, t in tables.items()}


#: Corpora kept in the cache; the least recently used go first.
KEEP = 4


def ensure(root: str, cache: str, mult: int, seed: int) -> tuple[str, dict]:
    """Directory holding the corpus for (``mult``, ``seed``), built on
    first use, and its manifest (row counts, bytes, build seconds)."""
    out = os.path.join(cache, f"x{mult}-seed{seed}")
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        os.utime(out)
        with open(manifest) as fh:
            return out, json.load(fh)
    os.makedirs(cache, exist_ok=True)
    dirs = sorted(
        (os.path.join(cache, d) for d in os.listdir(cache)),
        key=os.path.getmtime,
    )
    for old in dirs[: max(0, len(dirs) - (KEEP - 1))]:
        shutil.rmtree(old, ignore_errors=True)
    t0 = time.perf_counter()
    tmp = f"{out}.part{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows, nbytes = {}, {}
    for name, table in generate(root, mult, seed).items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(table, path)
        rows[name] = table.num_rows
        nbytes[name] = os.path.getsize(path)
    info = {
        "mult": mult,
        "seed": seed,
        "rows": rows,
        "bytes": nbytes,
        "build_s": time.perf_counter() - t0,
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(info, fh, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, info
