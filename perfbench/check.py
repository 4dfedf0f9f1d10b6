"""Output checks for the benchmark.

Each workload's outputs are reduced to a canonical text form (the
strict form of ``scripts/sweep_correctness.py::canon_text``: columns
sorted, floats rounded to 6, rows sorted) and hashed. The first run of
a (workload, seed) compares Spark's outputs with the registry's DuckDB
oracles and, only when they match, stores the validated row count and
hash; every later run compares its own hashes with the stored ones, so
the expensive oracles run once per seed.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
from collections.abc import Callable

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sweep_module():
    path = os.path.join(REPO, "scripts", "sweep_correctness.py")
    spec = importlib.util.spec_from_file_location("sweep_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


canon_text = _sweep_module().canon_text


def digest(df: pd.DataFrame) -> dict:
    """Row count and sha256 of the canonical text of ``df``."""
    text = canon_text(df).to_csv(index=False)
    return {"rows": len(df),
            "sha256": hashlib.sha256(text.encode()).hexdigest()}


def duckdb_frames(data_dir: str, tables: tuple[str, ...],
                  sql: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Run each oracle query over ``data_dir``'s parquet tables."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        return {name: con.execute(q).df() for name, q in sql.items()}
    finally:
        con.close()


def min_label_components(pairs: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, component_id) for every node of the edge list
    ``pairs`` (columns doc_a, doc_b), labelled with the smallest id of
    its connected component — the same labelling as the registry's
    recursive-CTE components oracle, by union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"].tolist(), pairs["doc_b"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = sorted(parent)
    return pd.DataFrame({"doc_id": pd.array(nodes, dtype="int64"),
                         "component_id": pd.array([find(n) for n in nodes],
                                                  dtype="int64")})


class References:
    """Validated (rows, sha256) per output for one (workload, seed),
    kept in a JSON file between runs."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.stored: dict | None = None
        if os.path.exists(path):
            with open(path) as f:
                self.stored = json.load(f)

    def mismatches(self, outputs: dict[str, pd.DataFrame],
                   oracle: Callable[[], dict[str, pd.DataFrame]]
                   ) -> list[str]:
        """Names of the outputs that differ from the reference. Without
        a stored reference the oracle is run, and its digests are
        stored only if every output matches."""
        got = {k: digest(v) for k, v in outputs.items()}
        if self.stored is not None:
            return sorted(k for k in got if got[k] != self.stored.get(k))
        want = {k: digest(v) for k, v in oracle().items()}
        bad = sorted(k for k in got if got[k] != want.get(k))
        if not bad:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            with open(self.path, "w") as f:
                json.dump(want, f, indent=1, sort_keys=True)
            self.stored = want
        return bad
