"""Seeded input generator for the benchmark.

Writes the FIXTURES.md table schemas as one parquet file per table
(``<out_dir>/<table>.parquet``), the layout every registry query reads
through ``sources.tables.load_table``. Everything is drawn from one
``numpy.random.Generator`` seeded by the caller, and the parquet writer
settings are fixed, so the same (spec, seed) writes identical bytes.

The documents corpus is a Zipf draw over a generated vocabulary whose
first ranks are the engine's stopwords (so the stopword anti-join
removes real mass). A ``dup_share`` of documents are planted near
duplicates: a copy of another document plus one extra token, which
keeps their token-set Jaccard above the dedup operators' 0.95 cut; no
document is copied twice, so near-duplicate clusters are pairs.
Embeddings are drawn around per-label cluster centres.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings")

LANGS = ("en", "es", "zh", "fr", "de")
# every stopword of constants.STOPWORDS, so each language's anti-join
# drops tokens that really occur
STOPWORDS = ("the", "a", "of", "and", "to", "is", "order", "value", "key",
             "row")
SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "be", "do",
             "fa", "gu", "hi", "je", "ko", "lu", "ma", "no", "pe", "zo")
EMBED_DIM = 64


@dataclass(frozen=True)
class Spec:
    """Sizes of one generated input set."""
    tables: tuple[str, ...]
    docs: int
    vocab: int
    zipf: float
    dup_share: float
    doc_len: tuple[int, int] = (30, 70)
    # relational / events / embeddings sizes (about sf0.01)
    customers: int = 1500
    suppliers: int = 100
    parts: int = 2000
    orders: int = 15000
    lines_per_order: int = 4
    events: int = 10000
    users: int = 150
    embeddings: int = 1000
    labels: int = 10


def vocabulary(n: int) -> list[str]:
    """``n`` distinct lowercase words: the stopwords first, then
    syllable words in a fixed order."""
    words = list(STOPWORDS)
    k = len(SYLLABLES)
    i = 0
    while len(words) < n:
        j, w = i + k * k, ""   # start at two syllables
        while j:
            j, r = divmod(j, k)
            w += SYLLABLES[r]
        words.append(w)
        i += 1
    return words[:n]


def _documents(spec: Spec, rng: np.random.Generator) -> pa.Table:
    words = np.array(vocabulary(spec.vocab), dtype=object)
    # a seeded rank order, so seeds differ in which words are frequent;
    # the stopwords keep the top ranks
    ranked = np.concatenate([
        np.arange(len(STOPWORDS)),
        len(STOPWORDS) + rng.permutation(spec.vocab - len(STOPWORDS))])
    p = 1.0 / np.arange(1, spec.vocab + 1) ** spec.zipf
    p /= p.sum()
    lo, hi = spec.doc_len
    lens = rng.integers(lo, hi + 1, size=spec.docs)
    toks = words[ranked[rng.choice(spec.vocab, size=int(lens.sum()), p=p)]]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(toks[bounds[i]:bounds[i + 1]])
             for i in range(spec.docs)]
    # each planted duplicate copies its own original, so every cluster
    # is a pair whatever the seed and the components loop runs the
    # same number of rounds
    n_dup = int(spec.dup_share * spec.docs)
    dups = rng.choice(spec.docs, size=n_dup, replace=False)
    srcs = rng.choice(np.setdiff1d(np.arange(spec.docs), dups),
                      size=n_dup, replace=False)
    extra = words[ranked[rng.integers(0, spec.vocab, size=n_dup)]]
    for d, s, w in zip(dups, srcs, extra):
        texts[d] = texts[s] + " " + w
    return pa.table({
        "doc_id": pa.array(np.arange(spec.docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS),
                                                      spec.docs)]),
        "source": pa.array([f"src{i}" for i in
                            rng.integers(0, 20, spec.docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    })


def _embeddings(spec: Spec, rng: np.random.Generator) -> pa.Table:
    centres = rng.normal(size=(spec.labels, EMBED_DIM))
    labels = rng.integers(0, spec.labels, spec.embeddings)
    v = centres[labels] + 0.6 * rng.normal(size=(spec.embeddings,
                                                 EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(spec.embeddings, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def _money(rng: np.random.Generator, lo: float, hi: float,
           n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int,
          n: int) -> pa.Array:
    d = np.datetime64(start, "us") + (
        rng.integers(0, span, n) * 86_400_000_000).astype("timedelta64[us]")
    return pa.array(d, pa.timestamp("us"))


def _relational(spec: Spec, rng: np.random.Generator) -> dict[str, pa.Table]:
    def pick(vals: tuple[str, ...], n: int) -> pa.Array:
        return pa.array(np.array(vals)[rng.integers(0, len(vals), n)])

    nc, ns, npt, no = spec.customers, spec.suppliers, spec.parts, spec.orders
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"])}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pick(("AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"), nc)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))}),
    }
    adj = ("small", "large", "red", "blue", "green", "shiny", "old", "new")
    noun = ("ring", "widget", "anvil", "bolt", "gear", "spring", "valve",
            "panel")
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npt, dtype=np.int64)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            rng.integers(0, 8, (npt, 2))]),
        "p_brand": pa.array([f"Brand#{i}" for i in
                             rng.integers(1, 26, npt)]),
        "p_type": pick(("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"), npt),
        "p_size": pa.array(rng.integers(1, 51, npt).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npt) % 1000)
                                           * 0.1, 2)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pick(("F", "O", "P"), no),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, no)),
        "o_orderdate": _days(rng, "1995-01-01", 2400, no),
        "o_orderpriority": pick(("1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"), no),
    })
    nl = no * spec.lines_per_order
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npt, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pick(("A", "N", "R"), nl),
        "l_linestatus": pick(("F", "O"), nl),
        "l_shipdate": _days(rng, "1995-01-02", 2500, nl),
    })
    ne = spec.events
    gaps = rng.integers(1_000_000, 500_000_000, ne)      # 1 s .. 8 min
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, spec.users, ne).astype(np.int64)),
        "event_type": pick(("click", "error", "purchase", "signup",
                            "view"), ne),
        "value": pa.array(_money(rng, 0.01, 490.0, ne)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, ne)]),
    })
    return out


def generate(spec: Spec, seed: int, out_dir: str) -> dict[str, str]:
    """Write ``spec.tables`` under ``out_dir``; return table -> path.
    Tables are drawn in a fixed order from one generator, so a table's
    bytes depend only on (spec, seed)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    if "documents" in spec.tables:
        tables["documents"] = _documents(spec, rng)
    if "embeddings" in spec.tables:
        tables["embeddings"] = _embeddings(spec, rng)
    if any(t not in ("documents", "embeddings") for t in spec.tables):
        tables.update(_relational(spec, rng))
    paths = {}
    for name in spec.tables:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path, compression="snappy")
        paths[name] = path
    return paths
