"""Seeded input generator for the benchmark.

Everything the workloads read is made here from one integer seed, so the
same seed always gives byte-identical inputs:

* the star schema and corpus the analytics queries read (``region``,
  ``nation``, ``customer``, ``supplier``, ``orders``, ``lineitem``,
  ``documents``, ``embeddings``) as one parquet file per table, with the
  column names, types and value domains the registry queries filter on
  (mktsegment ``BUILDING``, region ``ASIA``, ship dates around
  1998-01-01, orders whose quantity sum passes the Q18 threshold);
* the recommender inputs in the reference CSV conventions: a ratings fact
  table ``(user_id, anime_id, rating)`` drawn from a low-rank preference
  model with Zipf-popular items and evenly active users (plus duplicated and
  ``Unknown`` rows for the clean/dedup step), and an ``anime`` item
  catalog keyed by ``ID``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Item types of the reference catalog; the serving path filters on ``TV``.
ITEM_TYPES = ("TV", "Movie", "OVA", "Special")
MKT_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query stream group "
    "filter big vector"
).split()
EMBED_DIM = 64
RATING_RANK = 6


@dataclass(frozen=True)
class Sizes:
    """Row counts of one input set. ``sf`` scales the star schema the way
    the TPC-H-shaped testdata does (customer 150k rows per unit)."""

    sf: float
    n_ratings: int
    n_users: int
    n_items: int

    @property
    def n_customers(self) -> int:
        return int(150_000 * self.sf)

    @property
    def n_suppliers(self) -> int:
        return int(10_000 * self.sf)

    @property
    def n_orders(self) -> int:
        return int(1_500_000 * self.sf)

    @property
    def n_docs(self) -> int:
        return int(50_000 * self.sf)

    @property
    def n_vectors(self) -> int:
        return int(50_000 * self.sf)


#: Input sizes and the input parts each workload reads.
SIZES = {
    "recsys_serve": Sizes(sf=0.0, n_ratings=125_000, n_users=2_500, n_items=250),
    "analytics_mix": Sizes(sf=0.01, n_ratings=0, n_users=0, n_items=0),
}
PARTS = {
    "recsys_serve": ("ratings",),
    "analytics_mix": ("star", "corpus"),
}


def _write_parquet(path: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), path)


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_since_epoch.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def gen_star(rng: np.random.Generator, sizes: Sizes, out: str) -> None:
    n_nat = 25
    _write_parquet(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write_parquet(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(n_nat), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n_nat)],
        "n_regionkey": pa.array(np.arange(n_nat) % 5, pa.int32()),
    })
    nc, ns, no = sizes.n_customers, sizes.n_suppliers, sizes.n_orders
    _write_parquet(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, n_nat, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(MKT_SEGMENTS)[rng.integers(0, 5, nc)].tolist(),
    })
    _write_parquet(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, n_nat, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    # Order dates 1995-01-01 .. 2001-08-01; ship dates 1..120 days later,
    # so the Q1/Q3 date cuts (1998-09-02, 1998-01-01) split both tables.
    odate = rng.integers(9131, 11535, no)
    lines = rng.integers(1, 8, no)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(no), lines)
    l_lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    total = np.round(np.bincount(l_order, weights=price * (1 - disc) * (1 + tax), minlength=no), 2)
    _write_parquet(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)].tolist(),
        "o_totalprice": total,
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)].tolist(),
    })
    _write_parquet(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sizes.sf), n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, n_li), pa.int64()),
        "l_linenumber": pa.array(l_lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 121, n_li)),
    })


def gen_corpus(rng: np.random.Generator, sizes: Sizes, out: str) -> None:
    nd = sizes.n_docs
    vocab = np.array(VOCAB)
    lengths = rng.integers(20, 90, nd)
    docs = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lengths]
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), nd)]
    _write_parquet(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": docs,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    })
    nv = sizes.n_vectors
    emb = (rng.standard_normal((nv, EMBED_DIM)) * 0.15).astype("float32")
    _write_parquet(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), EMBED_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })


def gen_ratings(rng: np.random.Generator, sizes: Sizes, out: str) -> dict:
    """Ratings CSV + item catalog CSV in the reference conventions.

    Ratings come from a rank-6 preference model (integer 1-10, Gaussian
    noise), items drawn Zipf(1.0) by popularity and users uniformly, as
    in the sizing probe the shape comes from (see README). 1% of rows are exact duplicates and 0.5% carry the
    ``Unknown`` null sentinel, so cleaning has work to do."""
    nu, ni, nr = sizes.n_users, sizes.n_items, sizes.n_ratings
    uf = rng.standard_normal((nu, RATING_RANK)) * 0.6
    itf = rng.standard_normal((ni, RATING_RANK)) * 0.6
    users = rng.integers(0, nu, nr)
    items = rng.choice(ni, nr, p=_zipf_p(ni, 1.0))
    # One rating per (user, item) before the planted duplicates: a pair
    # rated twice with different values would make the dedup step's pick,
    # and with it the fit, depend on shuffle order.
    first = np.sort(np.unique(users * ni + items, return_index=True)[1])
    users, items, nr = users[first], items[first], len(first)
    score = 6.5 + (uf[users] * itf[items]).sum(axis=1) * 1.2 + rng.standard_normal(nr) * 0.7
    rating = np.clip(np.rint(score), 1, 10).astype("int64")
    dup = rng.choice(nr, nr // 100, replace=False)
    users, items, rating = (np.concatenate([a, a[dup]]) for a in (users, items, rating))
    rows = [f"{u},{i},{r}" for u, i, r in zip(users.tolist(), items.tolist(), rating.tolist())]
    for j in rng.choice(len(rows), len(rows) // 200, replace=False).tolist():
        u, i, _ = rows[j].split(",")
        rows[j] = f"{u},{i},Unknown"
    with open(f"{out}/ratings.csv", "w") as f:
        f.write("user_id,anime_id,rating\n")
        f.write("\n".join(rows))
        f.write("\n")
    types = np.array(ITEM_TYPES)[rng.choice(4, ni, p=[0.5, 0.25, 0.15, 0.1])]
    with open(f"{out}/anime.csv", "w") as f:
        f.write("ID,Name,English name,Type,Score,Episodes,Members\n")
        for i in range(ni):
            english = "Unknown" if i % 7 == 3 else f'"Title {i}, the series"'
            f.write(
                f"{i},Anime {i},{english},{types[i]},{rng.uniform(1, 10):.2f},"
                f"{int(rng.integers(1, 100))},{int(rng.integers(10, 100000))}\n"
            )
    return {"ratings_csv_rows": len(rows), "catalog_rows": ni}


def generate(seed: int, workload: str, out: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out``; return row
    counts and bytes per file."""
    sizes, parts = SIZES[workload], PARTS[workload]
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    info: dict = {}
    # One child stream per part: a part's rows do not depend on which other
    # parts were generated alongside it.
    streams = dict(zip(("star", "corpus", "ratings"), rng.spawn(3)))
    if "star" in parts:
        gen_star(streams["star"], sizes, out)
    if "corpus" in parts:
        gen_corpus(streams["corpus"], sizes, out)
    if "ratings" in parts:
        info.update(gen_ratings(streams["ratings"], sizes, out))
    for name in sorted(os.listdir(out)):
        path = os.path.join(out, name)
        stem = name.rsplit(".", 1)[0]
        info[f"{stem}_bytes"] = os.path.getsize(path)
        if name.endswith(".parquet"):
            info[f"{stem}_rows"] = pq.ParquetFile(path).metadata.num_rows
    return info

