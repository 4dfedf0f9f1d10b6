"""Self-tests of the benchmark: generator determinism, metric names, the
components reference, and a tiny smoke run of every workload with one
planted output mismatch. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import pytest

from perfbench import gen, layers, run
from perfbench.check import digest, duckdb_frames

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

TINY = {
    "colloc_large": gen.Spec(tables=("documents",), docs=400, vocab=600,
                             zipf=1.05, dup_share=0.0),
    "query_mix": gen.Spec(tables=gen.ALL_TABLES, docs=300, vocab=500,
                          zipf=1.0, dup_share=0.05, customers=200,
                          suppliers=20, parts=200, orders=600, events=800,
                          users=30, embeddings=600),
    "dedup_ingest": gen.Spec(tables=("documents",), docs=300, vocab=600,
                             zipf=1.0, dup_share=0.15),
}


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _file_hashes(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_generator_is_deterministic(tmp_path):
    spec = TINY["query_mix"]
    a = gen.generate(spec, 7, str(tmp_path / "a"))
    gen.generate(spec, 7, str(tmp_path / "b"))
    gen.generate(spec, 8, str(tmp_path / "c"))
    ha, hb, hc = (_file_hashes(str(tmp_path / d)) for d in "abc")
    assert set(a) == set(gen.ALL_TABLES)
    assert ha == hb
    # region and nation are fixed dimension tables; the rest are drawn
    assert all(ha[f"{t}.parquet"] != hc[f"{t}.parquet"]
               for t in gen.ALL_TABLES if t not in ("region", "nation"))


def test_benchmark_names_are_valid_and_known():
    b = _benchmark()
    names = ([w["name"] for w in b["workloads"]]
             + [m["name"] for m in b["end_to_end"]]
             + [m["name"] for m in b["per_layer"]])
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    assert {w["name"] for w in b["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == layers.UNITS


def test_components_reference_matches_registry_oracle(tmp_path):
    """The union-find reference equals the recursive-CTE oracle."""
    from ngrams_collocations_hadoop_spark.registry import ORACLES

    from perfbench.workloads import DedupIngest

    d = str(tmp_path / "d")
    gen.generate(TINY["dedup_ingest"], 3, d)
    ref = DedupIngest(TINY["dedup_ingest"], str(tmp_path / "s")).oracle(d)
    cte = duckdb_frames(d, ("documents",), {
        "c": ORACLES["dedup_components_update"]})["c"]
    assert len(ref["components"]) > 0
    assert (digest(ref["components"])
            == digest(cte[["doc_id", "component_id"]]))


def _smoke(workload: str, trace: bool, root: str) -> dict:
    """A tiny run in its own process, one JVM per process as the
    command line runs it (a second JVM in one Python process finds
    the engine's process-cached Column trees pointing into the first
    one's gateway)."""
    code = (f"import json, sys; sys.path.insert(0, {ROOT!r}); "
            "from perfbench import run, test_perfbench as t; "
            f"print(json.dumps(run.run({workload!r}, 11, 1.0, {trace!r}, "
            f"spec=t.TINY[{workload!r}], work_root={root!r}, "
            "warmup_rounds=1)))")
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_emits_every_metric(workload, tmp_path):
    b = _benchmark()
    out = _smoke(workload, False, str(tmp_path))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    assert set(out["metrics"]) == {m["name"] for m in b["end_to_end"]}
    for m in b["end_to_end"]:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, m["name"]
    out = _smoke(workload, True, str(tmp_path))
    assert out["correct"]
    assert set(out["metrics"]) == {m["name"] for m in b["per_layer"]}
    assert out["metrics"]["trace.span_coverage"]["value"] > 0.95


def test_planted_mismatch_is_counted(tmp_path):
    refs = tmp_path / "refs"
    refs.mkdir()
    (refs / "colloc_large-11.json").write_text(json.dumps(
        {"colloc_topk": {"rows": 1, "sha256": "0" * 64}}))
    out = _smoke("colloc_large", False, str(tmp_path))
    assert out["failed"] == 1 and not out["correct"]
