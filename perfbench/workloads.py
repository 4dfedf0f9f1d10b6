"""The benchmark's three workloads.

Each workload names its generated inputs (a ``gen.Spec``), the ops of
one round of its closed loop, how one op calls into the engine, and how
its outputs are read back and checked. Ops are timed from the
benchmark's side only: the engine receives nothing but the generated
tables.

colloc_large
    The flagship ``colloc_topk`` on a Zipf corpus of 20k documents over
    a 20k-word vocabulary. Execution-bound: shuffle, aggregation,
    ``ngram_source`` and the LLR kernel dominate, construction is small.
query_mix
    A fixed rotation of short registry queries over all ten tables at
    about sf0.01. Driver- and scheduling-bound: construction and
    planning are a large share of each op, with many small stages. The
    same queries repeat on an unchanged corpus, so plan memos and
    caches hit; those hits are part of this workload's traffic.
dedup_ingest
    One ingest of the persisted-dedup lifecycle per op: append the
    batch to the pre-batch LSH index, match it, refresh the components
    table. Writes beside reads. The pre-batch index and components
    table are built cold for the warm-up and again before the timed
    loop (``build_s``), snapshotted, and restored from the snapshot
    before every op with the Spark cache cleared, so every op ingests
    into the same state and state-keyed caches miss.

Before its check pass and timed loop, every workload runs
``warmup_rounds`` untimed rounds from the cold JVM, so the timed ops do
not sit on the JIT's warm-up curve.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ngrams_collocations_hadoop_spark.operators import dedup
from ngrams_collocations_hadoop_spark.registry import ORACLES, QUERIES
from ngrams_collocations_hadoop_spark.sources.tables import load_table

from .check import duckdb_frames, min_label_components
from .gen import ALL_TABLES, Spec
from .trace import Tracer


class QueryWorkload:
    """Ops are registry queries run to the no-op sink."""

    # no write-side build: build_s is the warm-up's wall
    builds = False

    def __init__(self, name: str, spec: Spec, queries: tuple[str, ...],
                 warmup_rounds: int):
        self.name, self.spec, self.queries = name, spec, queries
        self.warmup_rounds = warmup_rounds

    def prepare(self, spark: SparkSession, data_dir: str,
                tr: Tracer) -> None:
        pass

    def round(self) -> tuple[str, ...]:
        return self.queries

    def before_op(self, spark: SparkSession) -> None:
        pass

    def op(self, spark: SparkSession, data_dir: str, name: str,
           tr: Tracer) -> None:
        with tr.span("registry.construct"):
            df = QUERIES[name](spark, data_dir)
        if tr.enabled:
            # the sink plans again: traced ops pay planning twice, which
            # the reported tracing overhead includes
            with tr.span("plans.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("exec.noop_write"):
            df.write.format("noop").mode("overwrite").save()

    def check_pass(self, spark: SparkSession, data_dir: str,
                   tr: Tracer) -> dict[str, pd.DataFrame]:
        """Each query of the round, collected."""
        return {q: QUERIES[q](spark, data_dir).toPandas()
                for q in self.queries}

    def oracle(self, data_dir: str) -> dict[str, pd.DataFrame]:
        return duckdb_frames(data_dir, self.spec.tables,
                             {q: ORACLES[q] for q in self.queries})

    def lifecycle_files(self, spark: SparkSession) -> int:
        return 0


class DedupIngest:
    """Ops are ingests of the persisted LSH-index + components
    lifecycle."""

    name = "dedup_ingest"
    MATCH = "dedup_persisted_lsh_match"
    builds = True
    warmup_rounds = 1

    def __init__(self, spec: Spec, snapshot_dir: str):
        self.spec = spec
        self.snapshot_dir = snapshot_dir
        self.tables: dict[str, str] = {}     # role -> catalog name
        self.pairs = None

    def round(self) -> tuple[str, ...]:
        return ("ingest",)

    def _location(self, spark: SparkSession, table: str) -> str:
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
            if r.col_name.strip() == "Location":
                return r.data_type.removeprefix("file:")
        raise ValueError(f"table {table} has no location")

    def build(self, spark: SparkSession, data_dir: str,
              tr: Tracer) -> None:
        """Drop all lifecycle state, build the pre-batch index and the
        components table, and snapshot both tables' files."""
        spark.catalog.clearCache()
        for t in spark.catalog.listTables():
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        with tr.span("lifecycle.build_lsh_index"):
            idx = dedup.build_lsh_index(spark, data_dir, old_only=True)
        with tr.span("lifecycle.build_components_table"):
            comp = dedup.build_components_table(spark, data_dir)
        self.tables = {"index": idx, "components": comp}
        shutil.rmtree(self.snapshot_dir, ignore_errors=True)
        for role, t in self.tables.items():
            shutil.copytree(self._location(spark, t),
                            os.path.join(self.snapshot_dir, role))

    def prepare(self, spark: SparkSession, data_dir: str,
                tr: Tracer) -> None:
        """State for the warm-up's ops to ingest into."""
        self.build(spark, data_dir, tr)

    def before_op(self, spark: SparkSession) -> None:
        """Restore the pre-batch tables and drop every cached block."""
        for role, t in self.tables.items():
            loc = self._location(spark, t)
            shutil.rmtree(loc)
            shutil.copytree(os.path.join(self.snapshot_dir, role), loc)
            spark.catalog.refreshTable(t)
        spark.catalog.clearCache()

    def op(self, spark: SparkSession, data_dir: str, name: str,
           tr: Tracer) -> None:
        idx, comp = self.tables["index"], self.tables["components"]
        batch = load_table(spark, data_dir, "documents").filter(
            F.col("doc_id") % dedup.NEW_BATCH_MOD == 0)
        with tr.span("lifecycle.append_lsh_index"):
            dedup.append_lsh_index(spark, idx, batch)
        with tr.span("lifecycle.match_lsh_index"):
            self.pairs = dedup.match_lsh_index(spark, data_dir, idx)
        if tr.enabled:
            with tr.span("plans.plan"):
                self.pairs._jdf.queryExecution().executedPlan()
        with tr.span("lifecycle.refresh_components_table"):
            dedup.refresh_components_table(spark, data_dir, comp,
                                           batch_pairs=self.pairs)

    def check_pass(self, spark: SparkSession, data_dir: str,
                   tr: Tracer) -> dict[str, pd.DataFrame]:
        """One op on the built state, then its match pairs and
        refreshed components."""
        self.before_op(spark)
        self.op(spark, data_dir, "ingest", tr)
        return {self.MATCH: self.pairs.toPandas(),
                "components": spark.table(
                    self.tables["components"]).toPandas()}

    def oracle(self, data_dir: str) -> dict[str, pd.DataFrame]:
        """The match oracle as registered. The components reference is
        the registered ``dedup_components_update`` oracle's own edge
        list, closed by union-find instead of its recursive CTE (which
        takes minutes per seed)."""
        cte = ORACLES["dedup_components_update"]
        edges = (cte[:cte.index("bi AS (")].rstrip().rstrip(",")
                 + "\nSELECT src AS doc_a, dst AS doc_b FROM edges")
        got = duckdb_frames(data_dir, ("documents",), {
            self.MATCH: ORACLES[self.MATCH], "edges": edges})
        return {self.MATCH: got[self.MATCH],
                "components": min_label_components(got["edges"])}

    def lifecycle_files(self, spark: SparkSession) -> int:
        """Files in the lifecycle tables' directories."""
        return sum(len(files) for t in self.tables.values()
                   for _, _, files in os.walk(self._location(spark, t)))


MIX_QUERIES = (
    "colloc_topk", "rel_star_join", "rel_topk_per_group",
    "rel_sessionize", "sim_pq_topk", "text_quality", "text_dsir_weights",
)

SPECS = {
    "colloc_large": Spec(tables=("documents",), docs=20000, vocab=20000,
                         zipf=1.05, dup_share=0.0, doc_len=(20, 40)),
    "query_mix": Spec(tables=ALL_TABLES, docs=2000, vocab=3000, zipf=1.0,
                      dup_share=0.05),
    "dedup_ingest": Spec(tables=("documents",), docs=2000, vocab=4000,
                         zipf=1.0, dup_share=0.1),
}


def make(name: str, spec: Spec, work_dir: str):
    if name == "colloc_large":
        return QueryWorkload(name, spec, ("colloc_topk",), warmup_rounds=3)
    if name == "query_mix":
        return QueryWorkload(name, spec, MIX_QUERIES, warmup_rounds=1)
    if name == "dedup_ingest":
        return DedupIngest(spec, os.path.join(work_dir, "snapshot"))
    raise KeyError(name)
