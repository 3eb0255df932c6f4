"""``analytics_pass``: the read side. One pass calls every query of the
set in sorted name order and fetches its result, then refreshes the gold
marts with one ``plans.gold.run_gold_marts`` call.

The query set mixes the gold and sales-analytics queries (short joins
and aggregates, bound by per-query planning and job scheduling) with the
iterative, memoised and streaming operators (graph fixpoint loops,
shared-build memos, AvailableNow stream drains). Every pass reads the
generated inputs through a directory the process has not seen before,
so each shared build is paid inside the pass that uses it, whatever the
package's memo caches hold.

Checked, outside the timed windows: every result against the query's
own DuckDB ``oracle_sql()`` entry, and every mart against the oracle of
the standalone query of the same name, with the order-insensitive
comparison of ``scripts/check_oracle.py``.
"""

from __future__ import annotations

import os
import time
from pathlib import Path

from harness import Checker, Tracer, written_since_start

#: Gold marts and sales analytics: plans.gold, plans.analytics,
#: plans.windows, plans.incremental.
DASHBOARD = (
    "fact_order_details",
    "partition_pruned_revenue",
    "revenue_cube",
    "top_parts_per_supplier",
)
#: Iterative and streaming operators: plans.mlprep graph loops,
#: streaming.
CURATION = (
    "stream_session_windows",
    "supplier_copurchase_pagerank",
)
QUERIES = tuple(sorted(DASHBOARD + CURATION))
MARTS = (
    "customer_behavior",
    "seller_order_rates",
    "seller_performance_daily",
    "seller_performance_monthly",
    "seller_performance_quarterly",
    "seller_segmentation",
)


def snapshot_inputs(src: Path, dst: Path) -> Path:
    """Hard-link the generated tables under a new directory."""
    dst.mkdir(parents=True, exist_ok=True)
    for f in src.iterdir():
        os.link(f, dst / f.name)
    return dst


class Analytics:
    def __init__(self, sess, work: Path, data: Path):
        from azure_sales_etl_pipeline_spark.plans import registry

        self.sess = sess
        self.work = work
        self.data = data
        self.queries = QUERIES
        self.fns, self.oracles = registry()
        self.passes = 0

    def one_pass(self, tracer: Tracer) -> dict:
        """Run every query and the marts once; returns per-query build
        and fetch times, the results and the marts' location."""
        from azure_sales_etl_pipeline_spark.plans.gold import run_gold_marts

        spark = self.sess.spark
        self.passes += 1
        inputs = snapshot_inputs(self.data, self.work / "inputs" / f"p{self.passes}")
        sf_dir = str(inputs)
        out = {"build": {}, "exec": {}, "cost": {}, "results": {}}
        tracer.enabled = tracer.installed
        pass_cost0 = tracer.cost
        t_pass = time.perf_counter()
        for name in self.queries:
            cost0 = tracer.cost
            with tracer.span("query", query=name):
                with tracer.span("plans.build"):
                    t0 = time.perf_counter()
                    df = self.fns[name](spark, sf_dir)
                    t1 = time.perf_counter()
                with tracer.span("plans.exec"):
                    t2 = time.perf_counter()
                    rows = df.collect()
                    t3 = time.perf_counter()
            out["build"][name] = t1 - t0
            out["exec"][name] = t3 - t2
            out["cost"][name] = tracer.cost - cost0
            out["results"][name] = (rows, df.columns)
        marts_root = self.work / "marts" / f"p{self.passes}"
        cost0 = tracer.cost
        with tracer.span("plans.gold.marts"):
            t0 = time.perf_counter()
            run_gold_marts(spark, sf_dir, str(marts_root))
            out["marts_s"] = time.perf_counter() - t0
        out["marts_cost"] = tracer.cost - cost0
        out["pass_s"] = time.perf_counter() - t_pass
        out["pass_cost"] = tracer.cost - pass_cost0
        tracer.enabled = False
        out["marts_root"] = marts_root
        return out

    def check(self, out: dict, checker: Checker, con) -> None:
        spark = self.sess.spark
        for name, (rows, cols) in out["results"].items():
            checker.compare_duck(name, rows, cols, con, self.oracles[name])
        for name in MARTS:
            df = spark.read.parquet(str(out["marts_root"] / name))
            checker.compare_duck(f"mart:{name}", df.collect(), df.columns, con, self.oracles[name])


def install_trace(tracer: Tracer) -> None:
    """Query, build and fetch spans are opened by ``one_pass``; the
    marts' writes get spans of their own."""
    from azure_sales_etl_pipeline_spark.operators import writer

    tracer.wrap(writer, "overwrite_table", "operators.writer", written_since_start(1))
