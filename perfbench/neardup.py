"""The ``neardup`` workload.

It runs a fixed list of registry queries in sequence, one client, closed
loop.  Set-up runs every query once and writes its result to parquet
(the warm-up pass; those files are what the checks read).  A timed round
runs every query again into Spark's ``noop`` sink, as ``bench.py`` does,
timing the ``QuerySpec.builder`` call and the sink action apart.
"""

from __future__ import annotations

import os
import time

import duckdb

from perfbench import checks, gen

NEARDUP = [
    "ngram_jaccard_pairs",  # PPJoin candidates + exact Jaccard verify
    "dedup_clusters",  # the same pairs, then connected components
    "containment_pairs",  # one-sided PPJoin prefix filter
]
JACCARD = 0.8  # the threshold the exact near-dup queries declare


class NeardupWorkload:
    def __init__(self, work: str):
        self.data_dir = os.path.join(work, "data")
        self.out_dir = os.path.join(work, "results")
        self.planted: list[tuple[int, int]] = []

    def make_inputs(self, seed: int) -> None:
        self.planted = gen.neardup_corpus(seed, self.data_dir)

    def warm_up(self, spark, tracer) -> None:
        from delta_lake_validation_spark.plans import REGISTRY

        for q in NEARDUP:
            df = REGISTRY[q].builder(spark, self.data_dir)
            df.write.mode("overwrite").parquet(os.path.join(self.out_dir, q))
            spark.catalog.clearCache()

    def run_round(self, spark, tracer) -> list[tuple[str, float]]:
        """One pass over the queries; returns (query, seconds) per query."""
        from delta_lake_validation_spark.plans import REGISTRY

        times = []
        for q in NEARDUP:
            # isolate queries: drop blocks a previous query persisted and
            # let the JVM collect its garbage outside the timed region
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            with tracer.span("plans.build"):
                df = REGISTRY[q].builder(spark, self.data_dir)
            with tracer.span("plans.execute"):
                df.write.format("noop").mode("overwrite").save()
            times.append((q, time.perf_counter() - t0))
        spark.catalog.clearCache()
        return times

    def check(self) -> list[str]:
        """Compare every warm-up result with its DuckDB oracle, then
        recompute the pairs from the texts."""
        from delta_lake_validation_spark.plans import REGISTRY

        con = duckdb.connect()
        con.execute(f"SET threads TO {os.cpu_count() or 4}")
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{os.path.join(self.data_dir, 'documents')}.parquet'"
        )
        errors = []
        for q in NEARDUP:
            result = os.path.join(self.out_dir, q, "*.parquet")
            err = checks.oracle_diff(con, result, REGISTRY[q].oracle)
            if err:
                errors.append(f"{q}: {err}")
        errors += self._check_pairs(con)
        con.close()
        return errors

    def _check_pairs(self, con) -> list[str]:
        def rows(q, cols):
            return con.execute(
                f"SELECT {cols} FROM '{os.path.join(self.out_dir, q)}/*.parquet'"
            ).fetchall()

        texts = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
        pairs = [(a, b) for a, b in rows("ngram_jaccard_pairs", "left_doc, right_doc")]
        clusters = rows("dedup_clusters", "id, cluster_id")
        return checks.neardup_errors(texts, pairs, clusters, self.planted, JACCARD)
