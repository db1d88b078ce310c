"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed writes
byte-identical values. Tables are written with pyarrow, so generating
inputs runs no Spark job and the package under test only ever sees files.

Two families:

- the WRO cell stack: ``layer, cell_id, value`` long rows for ``L``
  raster layers over ``N`` cells, plus the layer list fed to
  ``toolbox.create_wro_catalog``;
- the corpus tables (``documents``, ``embeddings``, ``events`` and the
  TPC-H style star schema) with the column names and value shapes of the
  repository's fixture tables, which the registry queries and their
  DuckDB oracles read.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: layer name -> (value generator kind, classification source). Names use
#: only characters the catalog accepts.
LAYERS = (
    ("slope", "uniform"),
    ("elevation", "uniform"),
    ("road_dist", "exponential"),
    ("soil_ph", "normal"),
    ("landcover", "classes"),
    ("rainfall", "breaks"),
)

#: class-break upper bounds for the ``breaks`` layer (R17 colorizer).
RAINFALL_BREAKS = [200.0, 400.0, 600.0, 800.0, 1000.0]
#: distinct values of the ``classes`` layer (R18 unique-value colorizer).
LANDCOVER_CLASSES = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
#: token pool of the documents: large enough that two unrelated
#: documents share few tokens, so every near-duplicate pair is planted.
WORDS = np.array([f"{w}{i}" for i in range(130) for w in VOCAB])
#: planted near-duplicate chains, by length. Neighbours in a chain share
#: 23 of 25 distinct tokens (token Jaccard 0.92), documents two apart 22
#: of 26 (0.85), so under the 0.9 threshold of ``q_dedup_clusters`` each
#: chain is one cluster whose diameter is its length minus one. The
#: layout is the same on every seed, so the connected-component rounds
#: do the same work on every seed.
NEAR_DUP_CHAINS = (2, 2, 3, 3, 4, 6, 8, 12)
CHAIN_DOC_TOKENS = 24


@dataclass
class CellStack:
    """The generated raster stack: ``values[i, c]`` is layer ``names[i]``
    at cell ``c``."""

    names: list[str]
    values: np.ndarray  # shape (L, N), float64

    def layer_values(self, name: str) -> np.ndarray:
        return self.values[self.names.index(name)]


def make_cells(seed: int, n_cells: int) -> CellStack:
    rng = np.random.default_rng([seed, 1])
    rows = []
    for _name, kind in LAYERS:
        if kind == "uniform":
            v = rng.uniform(0.0, 1000.0, n_cells)
        elif kind == "exponential":
            v = rng.exponential(250.0, n_cells)
        elif kind == "normal":
            v = rng.normal(6.5, 1.2, n_cells)
        elif kind == "classes":
            v = rng.choice(LANDCOVER_CLASSES, n_cells)
        else:  # breaks: keep every value under the last class break
            v = rng.uniform(0.0, 999.0, n_cells)
        rows.append(np.round(v, 2))
    return CellStack([n for n, _ in LAYERS], np.vstack(rows))


def write_cells(stack: CellStack, path: str, files: int = 4) -> None:
    """Long form ``layer string, cell_id bigint, value double``, split into
    ``files`` parquet files so the scan has parallel input."""
    os.makedirs(path, exist_ok=True)
    n_layers, n_cells = stack.values.shape
    layer = np.repeat(np.array(stack.names, dtype=object), n_cells)
    cell = np.tile(np.arange(n_cells, dtype=np.int64), n_layers)
    value = stack.values.reshape(-1)
    for i, idx in enumerate(np.array_split(np.arange(layer.size), files)):
        table = pa.table(
            {
                "layer": pa.array(layer[idx], pa.string()),
                "cell_id": pa.array(cell[idx], pa.int64()),
                "value": pa.array(value[idx], pa.float64()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))


def layer_rows() -> list[dict]:
    """Rows of the ``layers_df`` passed to ``create_wro_catalog``: one per
    layer, with the optional colorizer columns that pick its
    classification path."""
    out = []
    for name, kind in LAYERS:
        out.append(
            {
                "name": name,
                "title": name.replace("_", " ").title(),
                "breaks": RAINFALL_BREAKS if kind == "breaks" else None,
                "unique_values": LANDCOVER_CLASSES if kind == "classes" else None,
            }
        )
    return out


# --------------------------------------------------------------------------
# corpus tables
# --------------------------------------------------------------------------


def _write(table: pa.Table, sf_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def _ts_us(base: str, offsets_s: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    micros = start + np.round(offsets_s * 1e6).astype(np.int64)
    return pa.array(micros, pa.timestamp("us"))


def write_corpus(seed: int, sf_dir: str, n_docs: int, n_lineitem: int) -> None:
    """Write every table the corpus workload reads into ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    _documents(rng, sf_dir, n_docs)
    _embeddings(rng, sf_dir, n_docs)
    _events(rng, sf_dir, n_docs * 4)
    _tpch(rng, sf_dir, n_lineitem)


def _documents(rng, sf_dir: str, n: int) -> None:
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(20, 60)), replace=False))
             for _ in range(n)]
    # chain members take increasing doc ids, so the min-label rounds meet
    # the same order on every seed
    slots = iter(np.sort(rng.choice(min(n, 500), sum(NEAR_DUP_CHAINS), replace=False)))
    for c, length in enumerate(NEAR_DUP_CHAINS):
        toks = list(rng.choice(WORDS, CHAIN_DOC_TOKENS, replace=False))
        for j in range(length):
            if j:
                toks[j - 1] = f"nd{c}x{j}"  # one token out, a fresh one in
            texts[next(slots)] = " ".join(toks)
    langs = rng.choice(["en", "en", "en", "zh", "es", "de", "fr"], n)
    ids = np.arange(n, dtype=np.int64)
    _write(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs.tolist(), pa.string()),
                "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        sf_dir,
        "documents",
    )


def _embeddings(rng, sf_dir: str, n: int, dim: int = 64) -> None:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    x = rng.normal(0.0, 1.0, (n, dim)) + 0.15 * centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.array(list(x.astype(np.float32)), pa.list_(pa.float32()))
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64)),
                "embedding": emb,
                "label": pa.array(labels.astype(np.int32)),
            }
        ),
        sf_dir,
        "embeddings",
    )


def _events(rng, sf_dir: str, n: int) -> None:
    offsets = np.sort(rng.uniform(0.0, 30 * 86400.0, n))
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n, dtype=np.int64)),
                "ts": _ts_us("2024-01-01", offsets),
                "user_id": pa.array(rng.integers(0, 150, n).astype(np.int64)),
                "event_type": pa.array(
                    rng.choice(["signup", "error", "click", "view", "purchase"], n)
                    .tolist()
                ),
                "value": pa.array(np.round(rng.exponential(50.0, n) + 0.01, 2)),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
                ),
            }
        ),
        sf_dir,
        "events",
    )


def _tpch(rng, sf_dir: str, n_lineitem: int) -> None:
    n_orders = max(n_lineitem // 4, 1)
    n_part = max(n_lineitem // 30, 10)
    n_cust = max(n_orders // 10, 10)
    n_supp = 100
    _write(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        sf_dir,
        "region",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
            }
        ),
        sf_dir,
        "nation",
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(np.round(rng.uniform(0, 10000, n_supp), 2)),
            }
        ),
        sf_dir,
        "supplier",
    )
    adjectives = ["small", "red", "blue", "hot", "cold", "green"]
    nouns = ["widget", "gear", "plate", "bolt", "ring", "gizmo"]
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": [
                    f"{adjectives[a]} {nouns[b]}"
                    for a, b in zip(
                        rng.integers(0, 6, n_part), rng.integers(0, 6, n_part)
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"],
                    n_part,
                ).tolist(),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(
                    np.round(900.0 + np.arange(n_part) * 0.1, 2)
                ),
            }
        ),
        sf_dir,
        "part",
    )
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
                "c_mktsegment": rng.choice(
                    ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"],
                    n_cust,
                ).tolist(),
            }
        ),
        sf_dir,
        "customer",
    )
    order_days = rng.integers(0, 2403, n_orders)
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
                "o_totalprice": pa.array(
                    np.round(rng.uniform(1000, 500000, n_orders), 2)
                ),
                "o_orderdate": _ts_us("1995-01-01", order_days * 86400.0),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_orders,
                ).tolist(),
            }
        ),
        sf_dir,
        "orders",
    )
    orderkey = rng.integers(0, n_orders, n_lineitem).astype(np.int64)
    qty = rng.integers(1, 51, n_lineitem).astype(np.float64)
    ship = order_days[orderkey] + rng.integers(1, 122, n_lineitem)
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(orderkey),
                "l_partkey": pa.array(rng.integers(0, n_part, n_lineitem).astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_lineitem).astype(np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem).astype(np.int32)),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(
                    np.round(qty * rng.uniform(900.0, 2100.0, n_lineitem), 2)
                ),
                "l_discount": pa.array(rng.integers(0, 11, n_lineitem) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_lineitem) / 100.0),
                "l_returnflag": rng.choice(["A", "N", "R"], n_lineitem).tolist(),
                "l_linestatus": rng.choice(["F", "O"], n_lineitem).tolist(),
                "l_shipdate": _ts_us("1995-01-01", ship * 86400.0),
            }
        ),
        sf_dir,
        "lineitem",
    )
