"""batch-inventory: a closed loop with one client running a pass over
ten inventory queries on the sf0.01 corpus, each to its fully
collected result, checked against DuckDB's answer.

SQL group: relational and MATCH_RECOGNIZE queries (Catalyst, the JVM,
the CEP tiers). Pipeline group: dedup, text, multimodal and pipeline
operators (Python workers). The seed sets the query order of the
pass; ``operators._cache.clear()`` runs before each query, so each
query pays its own full cost.
"""

from __future__ import annotations

import time
from pathlib import Path

import numpy as np

from pbench import oracle

SCALE = 0.01
#: the smoke test's scale
SMOKE_SCALE = 0.001

SQL_GROUP = (
    "q01_pricing_summary",
    "q21_local_supplier_volume",
    "q45_match_recognize",
    "q55_match_permute_wide",
    "q63_match_permute_within",
    "q64_match_within_next",
)
PIPELINE_GROUP = (
    "dd13_jaccard_prefix_filter",
    "tx12_doc_top_terms",
    "pp04_neardup_prep",
    "mm08_phash_neardup",
)
QUERIES = SQL_GROUP + PIPELINE_GROUP
#: Spark figures summed over the queries into the unit's totals
SPARK_TOTALS = ("jobs", "stages", "tasks", "task_time_s", "shuffle_bytes",
                "python_udf_s")


class BatchInventory:
    name = "batch-inventory"

    def __init__(self, run_dir: Path, seed: int, smoke: bool = False) -> None:
        self.scale = SMOKE_SCALE if smoke else SCALE
        self.rng = np.random.default_rng(seed)
        self.expected: dict[str, str] = {}
        self.spark = None
        self.tracer = None
        self.stats = None
        #: per traced unit: query -> {build_s, plan_s, exec_s, spark...}
        self.layers: dict[str, dict] = {}

    def prepare(self) -> dict:
        """Benchmark-side inputs: the corpus and DuckDB's answers."""
        from flink_streaming_platform_web_spark import inventory

        self.data_dir, fp = oracle.corpus(self.scale)
        sql = inventory.oracle_sql()
        self.expected = oracle.answers(
            self.data_dir, {q: sql[q] for q in QUERIES}
        )
        return {"scale": self.scale, "data": fp}

    def setup(self, spark, console) -> None:
        from flink_streaming_platform_web_spark import inventory

        self.spark = spark
        self.queries = inventory.queries()

    def _run_query(self, name: str, traced: bool) -> tuple[float, bool]:
        from flink_streaming_platform_web_spark.operators import _cache

        _cache.clear()
        fn = self.queries[name]
        if not traced:
            t0 = time.perf_counter()
            df = fn(self.spark, self.data_dir)
            cols = list(df.columns)
            rows = [tuple(r) for r in df.collect()]
            took = time.perf_counter() - t0
        else:
            sc = self.spark.sparkContext
            group = f"batch-{name}-{time.perf_counter_ns()}"
            sc.setJobGroup(group, name)
            udf0 = self.stats.udf_seconds()
            t0 = time.perf_counter()
            with self.tracer.span(f"batch.{name}"):
                with self.tracer.span(f"operators.{name}.build"):
                    df = fn(self.spark, self.data_dir)
                t1 = time.perf_counter()
                with self.tracer.span(f"spark.{name}.plan"):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with self.tracer.span(f"spark.{name}.exec"):
                    cols = list(df.columns)
                    rows = [tuple(r) for r in df.collect()]
            t3 = time.perf_counter()
            took = t3 - t0
            entry = {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2}
            entry.update(self.stats.group(group))
            entry["python_udf_s"] = self.stats.udf_seconds() - udf0
            self.layers[name] = entry
        ok = oracle.fingerprint(cols, rows) == self.expected[name]
        return took, ok

    def _pass(self, order: list[str], traced: bool) -> dict:
        out = {"times": {}, "attempted": 0, "failed": 0}
        for name in order:
            out["attempted"] += 1
            try:
                took, ok = self._run_query(name, traced)
            except Exception as e:  # a failed query counts, the pass goes on
                out["failed"] += 1
                out.setdefault("errors", []).append(f"{name}: {e}"[:300])
                continue
            out["times"][name] = took
            if not ok:
                out["failed"] += 1
                out.setdefault("errors", []).append(f"{name}: wrong result")
        return out

    def unit(self, traced: bool) -> dict:
        """One pass in a seeded order. The pass time is the sum of the
        queries' times, each from its first call to its collected
        result; checking results and tracing bookkeeping fall outside."""
        order = list(self.rng.permutation(QUERIES))
        res = self._pass(order, traced)
        res["unit_s"] = sum(res["times"].values())
        res["sql_pass_s"] = sum(res["times"].get(q, 0.0) for q in SQL_GROUP)
        res["pipeline_pass_s"] = sum(
            res["times"].get(q, 0.0) for q in PIPELINE_GROUP
        )
        if traced:
            res["spark"] = {
                k: sum(d[k] for d in self.layers.values())
                for k in SPARK_TOTALS
            }
        return res
