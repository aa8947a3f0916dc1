"""Seeded benchmark inputs, written to parquet before anything is timed.

Two input families:

* the linking corpus: pages, KB entities, gazetteer aliases and gold
  mentions, built from the engine's own pure generator functions
  (``synth.gen_page`` / ``synth.entity_catalog`` / ``synth.entity_aliases``)
  on the driver and written with pyarrow. The timed runs then scan parquet
  tables, never a lazy generator;
* the driver-query tables (TPC-H-ish star schema plus documents and
  embeddings) with the column names and value domains the headline queries
  read, drawn from a numpy generator seeded by the workload seed.

Every table is a pure function of its arguments.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from e2e_el_spark import synth

_PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
_GOLD_COLS = ["mention_id", "document_id", "start_index", "end_index", "text",
              "type", "label_candidate_id"]


def write_corpus(out: str, seed: int, n_pages: int, size_mult: int, n_entities: int,
                 n_files: int) -> dict:
    """pages/ (``n_files`` part files, page order preserved), entities,
    aliases and gold-mention parquet files under ``out``; returns their paths
    and the page count."""
    os.makedirs(f"{out}/pages", exist_ok=True)
    pages = [synth.gen_page(seed, i, n_entities, size_mult) for i in range(n_pages)]
    bounds = np.linspace(0, n_pages, n_files + 1).astype(int)
    for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        chunk = pages[lo:hi]
        pq.write_table(pa.Table.from_pylist(
            [{k: p[k] for k in _PAGES_SCHEMA.names} for p in chunk], schema=_PAGES_SCHEMA,
        ), f"{out}/pages/part-{f:03d}.parquet")
    gold = [m for p in pages for m in p["mentions"]]
    pq.write_table(pa.Table.from_pydict(
        {c: [m[c] for m in gold] for c in _GOLD_COLS},
        schema=pa.schema([(c, pa.int32() if c.endswith("_index") else pa.string())
                          for c in _GOLD_COLS]),
    ), f"{out}/gold.parquet")
    ents = synth.entity_catalog(seed, n_entities)
    pq.write_table(pa.Table.from_pylist(ents), f"{out}/entities.parquet")
    aliases = [(e["entity_id"], a, len(a.split(" ")))
               for k, e in enumerate(ents) for a in synth.entity_aliases(seed, k)]
    pq.write_table(pa.table({
        "entity_id": [a[0] for a in aliases],
        "alias": [a[1] for a in aliases],
        "n_tokens": pa.array([a[2] for a in aliases], pa.int32()),
    }), f"{out}/aliases.parquet")
    return {"pages": f"{out}/pages", "entities": f"{out}/entities.parquet",
            "aliases": f"{out}/aliases.parquet", "gold": f"{out}/gold.parquet",
            "n_pages": n_pages}


_WORDS = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row agg key query scan "
    "batch the a and of to is with that der die das und ist le la les et est".split()
)
_LANGS = np.array(["en", "en", "de", "fr", "es", "zh"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_ADJ = np.array(["blue", "cold", "hot", "large", "old", "small", "red", "green"])
_NOUN = np.array(["bolt", "plate", "ring", "nut", "gear", "pin"])
_EPOCH = dt.datetime(1995, 1, 1)


def _days(rng: np.random.Generator, n: int, span: int) -> np.ndarray:
    return (np.datetime64(_EPOCH, "us")
            + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]"))


def write_query_tables(out: str, seed: int, sf: float) -> str:
    """The tables the headline driver queries read, at scale factor ``sf``
    (lineitem ≈ 6M·sf rows), one parquet file (one row group) per table."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_docs, n_vec = max(int(10_000 * sf), 10), int(50_000 * sf), int(20_000 * sf)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet", row_group_size=1 << 30)

    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(_ADJ, n_part), " "),
                              rng.choice(_NOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
        "o_totalprice": rng.integers(100_000, 50_000_000, n_ord) / 100.0,
        "o_orderdate": _days(rng, n_ord, 2400),
        "o_orderpriority": rng.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                "4-NOT SPECIFIED", "5-LOW"]), n_ord),
    })
    # line numbers are unique per order and every window ordering in the
    # queries ends on (orderkey, linenumber), so results have no ties;
    # whole-dollar prices keep price·(1 - discount) on the cent grid, so the
    # 2-decimal rounded sums cannot land on a rounding boundary
    orderkey = np.sort(rng.integers(0, n_ord, n_li)).astype(np.int64)
    first = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    linenumber = np.arange(n_li) - np.repeat(first, np.diff(np.r_[first, n_li])) + 1
    put("lineitem", {
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": rng.integers(900, 100_000, n_li).astype(np.float64),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
        "l_shipdate": _days(rng, n_li, 2500),
    })
    texts = []
    for k in range(n_docs):
        if k >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the MinHash query's matches
            words = texts[int(rng.integers(0, k))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{k % 5}" for k in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(0, 0.15, (n_vec, 64)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return out
