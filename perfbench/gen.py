"""Seeded input generators for the benchmark.

Everything the engine reads during a run is made here from the workload
seed, with numpy and pyarrow only (no Spark), so the same seed gives
byte-identical inputs and input generation is cheap enough to repeat
inside ``setup_s``. Each generator returns the properties the benchmark
records about its input (rows, bytes, files, duplicate shares, ...).

Layout is a parameter of every writer: ``files=1`` writes one parquet
file with one row group (``<dir>/<table>.parquet``), ``files>1`` writes a
directory of that many part files under the same name. The engine's
``catalog.load_table`` and DuckDB's ``read_parquet`` read both forms.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("blue", "green", "red", "black", "white", "small", "large", "shiny")
NOUNS = ("gear", "anvil", "widget", "bolt", "ring", "spring", "valve", "lever")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "es", "fr", "de", "zh")
STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "on", "for")

_EPOCH = np.datetime64("1970-01-01", "D")


def write_table(table: pa.Table, root: str, name: str, files: int) -> dict:
    """Write ``table`` as ``<root>/<name>.parquet``: one file with one row
    group when ``files == 1``, else a directory of ``files`` contiguous
    row slices. Returns {rows, bytes, files}."""
    os.makedirs(root, exist_ok=True)
    target = os.path.join(root, f"{name}.parquet")
    n = table.num_rows
    if files <= 1:
        pq.write_table(table, target, row_group_size=max(1, n))
        return {"rows": n, "bytes": os.path.getsize(target), "files": 1}
    os.makedirs(target, exist_ok=True)
    total = 0
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        part = os.path.join(target, f"part-{i:05d}.parquet")
        sl = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(sl, part, row_group_size=max(1, sl.num_rows))
        total += os.path.getsize(part)
    return {"rows": n, "bytes": total, "files": files}


def _ts(days: np.ndarray) -> pa.Array:
    """Day offsets since 1970-01-01 -> TIMESTAMP(us) column."""
    return pa.array((_EPOCH + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _words(rng, n_words: int) -> np.ndarray:
    """A vocabulary of distinct lower-case letter-only words."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set[str] = set()
    while len(out) < n_words:
        for ln in rng.integers(3, 9, n_words):
            out.add("".join(rng.choice(letters, ln)))
    return np.array(sorted(out)[:n_words])


def lake_tables(rng, n_orders: int) -> tuple[dict[str, pa.Table], dict]:
    """TPC-H-shaped star schema plus events/documents/embeddings, with the
    column domains the registry's headline queries filter on (ASIA,
    BUILDING, '%gear%', 1995-2001 order dates, late shipments). Returns
    the tables and the documents' and embeddings' generation properties."""
    n_cust = max(50, n_orders // 10)
    n_supp = max(20, n_orders // 150)
    n_part = max(50, n_orders * 2 // 15)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.permutation(np.arange(25) % 5), pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    retail = np.round(900 + rng.integers(0, 1000, n_part) / 10, 2)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{COLORS[c]} {NOUNS[k]}"
            for c, k in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    first = (np.datetime64("1995-01-01") - _EPOCH).astype(int)
    odate = first + rng.integers(0, 2404, n_orders)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(okey)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": pkey.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li)),
    })
    n_ev = n_orders
    start_us = (np.datetime64("2024-01-01", "us") - np.datetime64("1970-01-01", "us")).astype(np.int64)
    ev_ts = np.sort(start_us + rng.integers(0, 30 * 86400 * 10**6, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, n_ev // 60), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(20.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"], doc_props = corpus_table(rng, max(100, n_orders // 30), 0.05, 0.05)
    out["embeddings"], vec_props = vector_table(rng, max(200, n_orders // 8), 64, 10)
    return out, {"documents": doc_props, "embeddings": vec_props}


SMALL_DIMENSIONS = ("region", "nation", "supplier")


def write_lake(rng, root: str, n_orders: int, files: int) -> dict:
    """Write the lake tables in the given layout; the small dimension
    tables stay single-file in every layout (as a real lake holds them)."""
    os.makedirs(root, exist_ok=True)
    tables, extra = lake_tables(rng, n_orders)
    props = {}
    for name, table in tables.items():
        nf = 1 if name in SMALL_DIMENSIONS else files
        props[name] = {**write_table(table, root, name, nf), **extra.get(name, {})}
    return props


def corpus_table(
    rng, n_docs: int, exact_share: float, near_share: float, vocab: int = 4000
) -> tuple[pa.Table, dict]:
    """Documents with planted duplicates. Originals draw tokens from a
    large vocabulary (pairwise near-disjoint); the last ``exact_share`` of
    ids copy an original's text verbatim and the ``near_share`` before
    them copy one with ~3% of tokens substituted (trigram Jaccard well
    above 0.5). Every planted copy has a higher id than its original, so
    a min-id survivor set keeps exactly the originals. Texts end with a
    short repeated boilerplate paragraph on a fifth of documents, so
    span and paragraph dedup have real work."""
    words = _words(rng, vocab)
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_orig = n_docs - n_exact - n_near
    boiler = [" ".join(rng.choice(words, 12)) for _ in range(8)]
    texts: list[str] = []
    for _ in range(n_orig):
        toks = rng.choice(words, int(rng.integers(40, 160)))
        stops = rng.random(len(toks)) < 0.15
        toks = np.where(stops, np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), len(toks))], toks)
        text = " ".join(toks)
        if rng.random() < 0.2:
            text += " " + boiler[int(rng.integers(0, len(boiler)))]
        texts.append(text)
    src_near = rng.integers(0, n_orig, n_near)
    for s in src_near:
        toks = texts[s].split(" ")
        edit = rng.random(len(toks)) < 0.03
        toks = [str(rng.choice(words)) if e else t for t, e in zip(toks, edit)]
        texts.append(" ".join(toks))
    src_exact = rng.integers(0, n_orig, n_exact)
    texts.extend(texts[s] for s in src_exact)
    table = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    props = {
        "originals": n_orig,
        "exact_dups": n_exact,
        "near_dups": n_near,
        "exact_share": exact_share,
        "near_share": near_share,
    }
    return table, props


def vector_table(rng, n: int, dim: int, clusters: int) -> tuple[pa.Table, dict]:
    """Gaussian clusters around unit-norm centres; returns the table and
    its properties."""
    centers = rng.normal(size=(clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, clusters, n)
    x = centers[label] + rng.normal(scale=0.6 / np.sqrt(dim), size=(n, dim))
    x = x.astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.reshape(-1)), dim).cast(
        pa.list_(pa.float32())
    )
    table = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": pa.array(label, pa.int32()),
    })
    return table, {"vectors": n, "dim": dim, "clusters": clusters}


def churn_batch(rng, first_key: int, n: int) -> pa.Table:
    """Lineitem-shaped rows with unique, increasing ``l_orderkey`` keys
    from ``first_key`` (so per-file min/max stats let a read of the newest
    keys skip older files); ship dates increase with the key."""
    keys = np.arange(first_key, first_key + n, dtype=np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    base = (np.datetime64("1995-01-01") - _EPOCH).astype(int)
    return pa.table({
        "l_orderkey": keys,
        "l_partkey": rng.integers(0, 20000, n).astype(np.int64),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 1000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_shipdate": _ts(base + keys // 50),
    })
