"""Seeded benchmark inputs, cached on disk under the work directory.

Every input is a pure function of its parameters, and the cache directory
name is a digest of all of them (kind, seed, size and generator settings),
so a cached table is reused only for exactly the inputs it was made from.
A directory counts as cached once its ``_DONE`` marker exists; it is
written into a temporary sibling first and renamed into place.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sources.generator's lognormal doc lengths and 60%-hot source mix
DOC_LEN = {"mean_len": 2000.0, "sigma": 1.2, "max_len": 200_000}
SERIES_LEN = {"mean_len": 300.0, "sigma": 1.2, "max_len": 1000}
FEATURE_FREQ = 24  # the series are read as hourly: daily seasonality
DOCS_PER_ROW_GROUP = 32
FILES_PER_TABLE = 8
# the SQL tables do not depend on the run's seed: they stand in for the
# fixed TPC-H-like test tables the query set was written against
SF_SEED = 420
FORMAT_VERSION = 3


def _cached(work: str, kind: str, params: dict, build) -> str:
    key = json.dumps({"kind": kind, "v": FORMAT_VERSION, **params}, sort_keys=True)
    path = os.path.join(work, "inputs", f"{kind}-{hashlib.sha256(key.encode()).hexdigest()[:16]}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_params.json"), "w") as f:
        json.dump({"kind": kind, **params}, f, sort_keys=True)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def _docs_with_total(seed: int, first_index: int, total_tokens: int, lens: dict):
    """Docs from sources.generator.gen_doc, drawn in index order until the
    token total is reached; the last doc is cut so the total is exact.
    A fixed total keeps the work per iteration the same for every seed."""
    from tsfeatures_spark.sources.generator import gen_doc

    docs, n, i = [], 0, first_index
    while n < total_tokens:
        doc_id, toks, src = gen_doc(seed, i, **lens)
        toks = toks[: total_tokens - n]
        docs.append((doc_id, toks, src))
        n += len(toks)
        i += 1
    return docs


def _write_docs(path: str, docs) -> None:
    """FILES_PER_TABLE files of near-equal token counts (longest doc first
    into the lightest file), so one task per file is balanced work."""
    files = min(FILES_PER_TABLE, len(docs))
    parts: list[list] = [[] for _ in range(files)]
    load = [0] * files
    for d in sorted(docs, key=lambda d: -len(d[1])):
        k = load.index(min(load))
        parts[k].append(d)
        load[k] += len(d[1])
    for k, part in enumerate(parts):
        part.sort(key=lambda d: d[0])
        table = pa.table({
            "doc_id": pa.array([d[0] for d in part], pa.string()),
            "tokens": pa.array([d[1] for d in part], pa.list_(pa.int32())),
            "n_tok": pa.array([len(d[1]) for d in part], pa.int32()),
            "source": pa.array([d[2] for d in part], pa.string()),
        })
        pq.write_table(table, os.path.join(path, f"part-{k:03d}.parquet"),
                       row_group_size=DOCS_PER_ROW_GROUP)


def token_table(work: str, seed: int, total_tokens: int, first_index: int = 0,
                lens: dict = DOC_LEN) -> str:
    """Parquet token table (doc_id, tokens, n_tok, source) of exactly
    ``total_tokens`` tokens; returns its directory."""
    params = {"seed": seed, "tokens": total_tokens, "first": first_index, **lens}
    return _cached(work, "tokens", params,
                   lambda p: _write_docs(p, _docs_with_total(seed, first_index, total_tokens, lens)))


def read_n_tok(path: str) -> np.ndarray:
    return pq.read_table(path, columns=["n_tok"]).column("n_tok").to_numpy()


# ---------------------------------------------------------------------------
# TPC-H-like tables for the SQL and dedup queries (the schemas of the
# engine's query registry and oracles), scaled by ``sf``
# ---------------------------------------------------------------------------

def _ts(start: str, spread_days: float, n: int, rng) -> np.ndarray:
    off = (rng.random(n) * spread_days * 86400.0 * 1e6).astype("timedelta64[us]")
    return np.datetime64(start) + off


def _sf_tables(sf: float, rng) -> dict[str, pa.Table]:
    scale = sf / 0.1  # row counts below are the sf0.1 reference
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust = max(int(15000 * scale), 10)
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": np.array(["MACHINERY", "HOUSEHOLD", "BUILDING", "AUTOMOBILE",
                                  "FURNITURE"])[rng.integers(0, 5, n_cust)],
    })
    n_supp = max(int(1000 * scale), 10)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })
    n_part = max(int(20000 * scale), 10)
    adjs = np.array(["large", "small", "red", "green", "steel", "brushed"])
    nouns = np.array(["ring", "plate", "bolt", "gear", "panel", "tube"])
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adjs[rng.integers(0, 6, n_part)], " "),
                              nouns[rng.integers(0, 6, n_part)]),
        "p_brand": np.array([f"Brand#{i}" for i in range(25)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD",
                            "PROMO"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    })
    n_ord = max(int(150000 * scale), 10)
    odate = _ts("1995-01-01", 2404, n_ord, rng)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)],
    })
    lines_per = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(l_ok)
    first_line = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    ship = np.repeat(odate, lines_per) + (
        rng.integers(1, 96, n_li) * np.int64(86400_000_000)).astype("timedelta64[us]")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - first_line + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ship,
    })
    n_ev = max(int(100000 * scale), 100)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", 30, n_ev, rng),
        "user_id": pa.array(rng.integers(0, max(int(1500 * scale), 5), n_ev), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(np.clip(rng.exponential(50.0, n_ev), 0, 560.21), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"),
    })
    # 10-100 words from a 30-word vocabulary plus a rare 'dup' marker: the
    # tiny vocabulary gives heavy natural near-duplication for minhash LSH
    n_doc = max(int(5000 * scale), 20)
    vocab = np.array([
        "spark", "window", "merge", "table", "column", "vector", "stream", "value",
        "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
        "order", "slow", "line", "part", "fast", "the", "row", "agg", "key", "query",
        "a", "scan", "batch",
    ])
    nw = rng.integers(10, 101, n_doc)
    words = vocab[rng.integers(0, 30, int(nw.sum()))]
    starts = np.concatenate(([0], np.cumsum(nw)[:-1]))
    dup_docs = rng.random(n_doc) < 0.05
    words[starts[dup_docs] + rng.integers(0, nw[dup_docs])] = "dup"
    texts = [" ".join(words[s:s + k]) for s, k in zip(starts, nw)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "de", "zh", "fr", "es"])[
            rng.choice(5, n_doc, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    n_emb = max(int(2000 * scale), 20)
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(0, 1, (10, 64))[labels] + rng.normal(0, 0.6, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def _oracle_counts(sf_dir: str, names: list[str], oracles: dict[str, str]) -> dict[str, int]:
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.sql(f"create view {f[:-8]} as select * from '{os.path.join(sf_dir, f)}'")
        return {n: int(con.sql(f"select count(*) from ({oracles[n]})").fetchone()[0]) for n in names}
    finally:
        con.close()


def sf_tables(work: str, sf: float, queries: list[str]) -> tuple[str, dict[str, int]]:
    """The query tables at scale ``sf`` and, per query, the row count of its
    DuckDB oracle from ``__spark_entry__.oracle_sql()``. The cache key
    includes the oracle texts, so an edited oracle is counted again."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    sql_digest = hashlib.sha256(json.dumps([oracles[q] for q in queries]).encode()).hexdigest()[:16]
    params = {"sf": sf, "seed": SF_SEED, "queries": queries, "oracles": sql_digest}

    def build(p: str) -> None:
        for name, table in _sf_tables(sf, np.random.default_rng(SF_SEED)).items():
            pq.write_table(table, os.path.join(p, f"{name}.parquet"))
        with open(os.path.join(p, "_oracle_counts.json"), "w") as f:
            json.dump(_oracle_counts(p, queries, oracles), f)

    path = _cached(work, "sf", params, build)
    with open(os.path.join(path, "_oracle_counts.json")) as f:
        return path, json.load(f)
