"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the engine reads (``sources.TABLES``) as parquet,
with the schemas of the test fixtures (FIXTURES.md section B) and the
row counts of their smallest scale. The same seed gives identical
tables; every seed gives the same row counts and value distributions,
so a seed changes which rows exist rather than how much work a query
does.

``documents`` carries duplicate families (an exact copy, a copy with
a suffix, or a copy with two words swapped) and ``embeddings`` gives
each family member a vector close to its base, so the dedup and
admission operators reject a share of their input instead of
admitting everything.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table (the fixtures' sf0.001 shape)
ROWS = {"region": 5, "nation": 25, "customer": 150, "supplier": 10,
        "part": 200, "orders": 1500, "lineitem": 6000, "events": 1000,
        "documents": 500, "embeddings": 500}

VOCAB = ("scan column window order sort part agg value line key join "
         "merge group query a vector hash slow stream filter fast the "
         "batch spark table small data big customer row").split()
EMBED_DIM = 64
#: share of documents that copy an earlier document, and the kinds of
#: copy: verbatim, with a suffix word, with two words swapped
DUP_SHARE = 0.08
DUP_KINDS = ("exact", "suffix", "swap")

_US_PER_DAY = 86_400_000_000


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = lo_d + rng.integers(0, (hi_d - lo_d).astype(np.int64) + 1, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.integers(0, len(values), n)].tolist(), pa.string())


def _documents(rng) -> tuple[pa.Table, pa.Table]:
    n = ROWS["documents"]
    # fixed multisets the seed only permutes: word counts, and how many
    # copies of each kind there are, so every seed gives the dedup
    # operators the same amount of work
    lengths = rng.permutation(np.linspace(8, 89, n).round().astype(int))
    n_dups = round(DUP_SHARE * n)
    kind_at = dict(zip(rng.choice(np.arange(20, n), n_dups, replace=False),
                       rng.permutation(np.resize(DUP_KINDS, n_dups))))
    texts: list[str] = []
    base_of = np.arange(n)
    for i in range(n):
        kind = kind_at.get(i)
        if kind is None:
            texts.append(" ".join(VOCAB[w] for w in
                                  rng.integers(0, len(VOCAB), lengths[i])))
            continue
        j = int(rng.integers(0, i))
        words = texts[j].split()
        if kind == "suffix":
            words.append("dup")
        elif kind == "swap":
            for k in rng.integers(0, len(words), 2):
                words[k] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts.append(" ".join(words))
        base_of[i] = base_of[j]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, ["en", "en", "fr", "es", "zh", "de"], n),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vec = rng.normal(size=(n, EMBED_DIM)).astype(np.float32)
    dup = base_of != np.arange(n)
    vec[dup] = (vec[base_of[dup]]
                + 0.05 * rng.normal(size=(int(dup.sum()), EMBED_DIM))
                ).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return docs, emb


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]),
                                pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"],
                              n["customer"])})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]),
                                pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget",
            "nut"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": pa.array(
            [f"{adj[a]} {noun[b]}" for a, b in
             zip(rng.integers(0, 8, n["part"]),
                 rng.integers(0, 8, n["part"]))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n["part"])], pa.string()),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + 0.1 * np.arange(n["part"]), 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]),
                              pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"],
                                 n["orders"])})
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m)})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, e)) + start
    out["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, e), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], e),
        "value": np.round(rng.gamma(2.0, 50.0, e) + 0.01, 2),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, e)], pa.string())})
    out["documents"], out["embeddings"] = _documents(rng)
    return out


def write(seed: int, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns
    ``out_dir`` (the ``sf_dir`` the engine's query builders take)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
