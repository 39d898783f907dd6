"""The benchmark's input tables: the ten tables the registered queries read,
at sf 0.01 (lineitem 60,000 rows, about 46k after primary-key dedup).

``tools/gen_sf1.py`` writes the five large tables (lineitem, orders,
customer, events, documents) with the distributions of the engine's sf0.1
test data, except ``events.value``, which it draws uniformly where the
test data's is exponential with mean 50; this module redraws that column
and adds the five tables the generator does not write (region, nation,
supplier, part, embeddings) with the test data's schemas and
distributions. ``selftest.py --reference`` compares the result with a
directory of test data. Every table is
generated from fixed seeds, so every run reads the same rows. Generating
all ten takes about 0.2 s on one core.
"""

from __future__ import annotations

import importlib.util
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.01
ROOT = Path(__file__).resolve().parent.parent
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _gen_sf1():
    spec = importlib.util.spec_from_file_location("_perfbench_gen", ROOT / "tools" / "gen_sf1.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _small_tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_supp, n_part, n_emb = int(10_000 * sf), int(200_000 * sf), max(500, int(20_000 * sf))
    adjs = np.array("blue cold hot large new old red small".split())
    nouns = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": np.round(rng.uniform(-1000.0, 10_000.0, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(adjs[rng.integers(0, 8, n_part)], " "), nouns[rng.integers(0, 8, n_part)]
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }),
        "embeddings": pa.table({
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_emb, dtype=np.int32),
        }),
    }


def generate(out_dir: str, sf: float = SF) -> dict[str, int]:
    """Write every table under ``out_dir`` as ``<name>.parquet``; returns
    rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    gen = _gen_sf1()
    for fn in (gen.generate, gen.generate_orders, gen.generate_customer,
               gen.generate_events, gen.generate_documents):
        fn(out_dir, sf)
    rng = np.random.default_rng(42)
    for name, tbl in _small_tables(sf, rng).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    path = os.path.join(out_dir, "events.parquet")
    ev = pq.read_table(path)
    value = np.round(rng.exponential(50.0, ev.num_rows), 2)
    pq.write_table(ev.set_column(ev.schema.get_field_index("value"), "value", pa.array(value)), path)
    return {t: pq.ParquetFile(os.path.join(out_dir, f"{t}.parquet")).metadata.num_rows
            for t in TABLES}
