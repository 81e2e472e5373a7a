"""The benchmark's workloads: what each one loads, what one unit of
update work is, which serving reads follow it, and how its outputs are
checked against an independent recompute.

A workload object is driven by ``run.py``: ``init`` once (timed as
``init_s``), then ``unit`` and a burst of ``read`` calls in a closed loop,
then ``check`` (untimed). Units return ``(update_seconds, details)``.
"""

from __future__ import annotations

import os
import time

from . import gen
from .oracle import compare_frames, duck_connection

# README BI queries over the gold views (the reference's dashboards)
BI_VIEWS = ("vw_revenue_by_region", "vw_customer_lifetime_value",
            "vw_supplier_performance", "vw_monthly_sales_trends")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(dirpath, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


class Workload:
    name = ""

    def __init__(self, spark, run_dir: str, seed: int, scale: dict | None = None):
        self.spark = spark
        self.run_dir = run_dir
        self.src_dir = os.path.join(run_dir, "src")
        self.wh_dir = os.path.join(run_dir, "warehouse")
        self.src = gen.SourceData(seed, scale)
        self.source_bytes = sum(self.src.write(self.src_dir).values())
        self.batches: list[dict] = []
        self.n_reads = 0

    def store_bytes_ratio(self) -> float:
        return dir_bytes(self.wh_dir) / self.source_bytes

    def read(self) -> None:
        fn = self.read_kinds()[self.n_reads % len(self.read_kinds())]
        self.n_reads += 1
        fn()


class BatchRebuild(Workload):
    """The reference's daily sales and weekly supplier jobs, each rep into a
    fresh warehouse, followed by the README BI queries over gold."""

    name = "batch_rebuild"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        from databricks_incremental_lakehouse_spark.pipelines import LakehouseConfig

        self.cfg = LakehouseConfig.from_env_file(sf_dir=self.src_dir, warehouse_dir=self.wh_dir)
        self.stage_overlap: list[float] = []

    def _rebuild(self) -> float:
        from databricks_incremental_lakehouse_spark.pipelines import (
            run_sales_analytics,
            run_supplier_analytics,
        )

        t0 = time.perf_counter()
        stages = {**run_sales_analytics(self.spark, self.cfg),
                  **run_supplier_analytics(self.spark, self.cfg)}
        wall = time.perf_counter() - t0
        self.stage_overlap.append(sum(r["elapsed"] for r in stages.values()) / wall)
        return wall

    def init(self) -> None:
        # the first full build into an empty warehouse (cold code paths)
        self._rebuild()

    def unit(self) -> tuple[float, dict]:
        return self._rebuild(), {}

    def read_kinds(self):
        from pyspark.sql import functions as F

        def view(name):
            return self.spark.read.parquet(self.cfg.table_path("views", name))

        return [
            lambda: view("vw_revenue_by_region").filter(F.col("order_year") == 1998).collect(),
            lambda: view("vw_customer_lifetime_value")
            .filter(F.col("value_tier") == "Platinum")
            .select("customer_name", "estimated_3yr_clv", "customer_segment")
            .orderBy(F.col("estimated_3yr_clv").desc())
            .limit(20)
            .collect(),
            lambda: view("vw_supplier_performance")
            .filter(F.col("supplier_tier") == "Tier 1 - Strategic")
            .select("supplier_name", "supplier_region", "performance_score",
                    "on_time_delivery_rate")
            .collect(),
            lambda: view("vw_monthly_sales_trends")
            .select("order_year", "order_month", "total_revenue",
                    "revenue_3mo_moving_avg", "mom_revenue_growth_pct")
            .collect(),
        ]

    def check(self) -> tuple[int, list[str]]:
        from databricks_incremental_lakehouse_spark.registry import ORACLE

        con = duck_connection(self.src_dir)
        bad = []
        for view in BI_VIEWS:
            oracle = ORACLE["gold_" + view[3:]]
            df = self.spark.read.parquet(self.cfg.table_path("views", view))
            bad += compare_frames(df, con, oracle, view)
        return len(BI_VIEWS), bad


class _Streamed(Workload):
    """Shared closed loop of the incremental workloads: land one batch file,
    drain it with the workload's ``availableNow`` stream, time both."""

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.land_dir = os.path.join(self.run_dir, "landing")
        self.ckpt_dir = os.path.join(self.run_dir, "checkpoint")
        self.landed_bytes = 0
        os.makedirs(self.land_dir)

    def _land(self, cols: dict, table: str) -> None:
        path = os.path.join(self.land_dir, f"batch-{len(self.batches):05d}.parquet")
        gen.write_parquet(cols, table, path + ".tmp")
        os.rename(path + ".tmp", path)  # a reader never sees a partial file
        self.landed_bytes += os.path.getsize(path)

    def store_bytes_ratio(self) -> float:
        return dir_bytes(self.wh_dir) / (self.source_bytes + self.landed_bytes)

    def unit(self) -> tuple[float, dict]:
        cols, props = self.batcher.next()
        t0 = time.perf_counter()
        self._land(cols, self.table)
        query = self.start_stream()
        query.awaitTermination()
        sec = time.perf_counter() - t0
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if not any(p.get("numInputRows", 0) for p in query.recentProgress):
            raise RuntimeError("the stream did not pick up the landed batch")
        self.batches.append(props)
        self.last_keys = cols[self.key_col]
        return sec, {}


class OrdersRefresh(_Streamed):
    """Order micro-batches through the Structured Streaming front door into
    the incremental bronze -> silver -> gold refresh."""

    name = "orders_refresh"
    table, key_col = "orders", "o_custkey"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.batcher = gen.OrderBatches(self.src)

    def init(self) -> None:
        from databricks_incremental_lakehouse_spark.streaming.refresh import (
            init_incremental_warehouse,
        )

        self.wh = init_incremental_warehouse(self.spark, self.src_dir, self.wh_dir)

    def start_stream(self):
        from databricks_incremental_lakehouse_spark.streaming import refresh

        return refresh.incremental_sales_stream(
            self.spark, self.land_dir, self.wh_dir, self.ckpt_dir
        )

    def read_kinds(self):
        from pyspark.sql import functions as F

        def customer():
            key = int(self.last_keys[self.n_reads % len(self.last_keys)])
            return (
                self.spark.read.parquet(self.wh.gold_customer_orders)
                .filter(F.col("customer_key") == key)
                .collect()
            )

        return [
            lambda: self.spark.read.parquet(self.wh.gold_monthly_trends).collect(),
            customer,
        ]

    def check(self) -> tuple[int, list[str]]:
        from databricks_incremental_lakehouse_spark.gold.monthly_sales_trends import (
            vw_monthly_sales_trends_oracle_sql,
        )
        from databricks_incremental_lakehouse_spark.silver.customer_orders import (
            silver_customer_orders_oracle_sql,
        )

        # batch recompute over the raw data plus every applied batch
        oracle_dir = os.path.join(self.run_dir, "oracle")
        self.src.write(oracle_dir, [t for t in self.src.tables if t != "orders"])
        gen.write_parquet(self.batcher.final_orders(), "orders",
                          os.path.join(oracle_dir, "orders.parquet"))
        con = duck_connection(oracle_dir)
        read = self.spark.read.parquet
        return 2, compare_frames(
            read(self.wh.gold_monthly_trends), con, vw_monthly_sales_trends_oracle_sql(),
            "gold monthly_sales_trends",
        ) + compare_frames(
            read(self.wh.gold_customer_orders), con, silver_customer_orders_oracle_sql(),
            "gold customer_orders",
        )


DOC_STATS_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest({tok}) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token)
SELECT doc_id, COUNT(*) AS n_unique_tokens, CAST(SUM(tf) AS DOUBLE) AS dl
FROM tf GROUP BY doc_id"""


class TokenStats(_Streamed):
    """Document batches through the token-stats stream into the maintained
    postings/bigram merge tables and their change-feed aggregates."""

    name = "token_stats"
    table, key_col = "documents", "doc_id"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.batcher = gen.DocBatches(self.src)

    def init(self) -> None:
        from databricks_incremental_lakehouse_spark.llmdata.incrstats import init_token_stats

        init_token_stats(self.spark, self.src_dir, self.wh_dir)

    def start_stream(self):
        from databricks_incremental_lakehouse_spark.llmdata import incrstats

        return incrstats.incremental_token_stats_stream(
            self.spark, self.land_dir, self.wh_dir, self.ckpt_dir
        )

    def read_kinds(self):
        from databricks_incremental_lakehouse_spark.llmdata import incrstats
        from pyspark.sql import functions as F

        top = self.src.vocab[:50]

        def bigrams():
            w = top[self.n_reads % len(top)]
            return (
                incrstats.bigram_stats(self.spark, self.wh_dir)
                .filter(F.col("w1") == w)
                .orderBy(F.desc("n_occurrences"), "w2")
                .limit(10)
                .collect()
            )

        def doc():
            key = int(self.last_keys[self.n_reads % len(self.last_keys)])
            return (
                incrstats.doc_stats(self.spark, self.wh_dir)
                .filter(F.col("doc_id") == key)
                .collect()
            )

        return [
            lambda: incrstats.token_stats(self.spark, self.wh_dir)
            .orderBy(F.desc("df"), "token")
            .limit(20)
            .collect(),
            bigrams,
            doc,
        ]

    def check(self) -> tuple[int, list[str]]:
        from databricks_incremental_lakehouse_spark.llmdata import incrstats
        from databricks_incremental_lakehouse_spark.llmdata.texthash import TOKENIZE_SQL

        oracle_dir = os.path.join(self.run_dir, "oracle")
        os.makedirs(oracle_dir)
        gen.write_parquet(self.batcher.final_documents(), "documents",
                          os.path.join(oracle_dir, "documents.parquet"))
        con = duck_connection(oracle_dir)
        sp, wh = self.spark, self.wh_dir
        return 3, (
            compare_frames(incrstats.token_stats(sp, wh), con,
                           incrstats.INCR_TOKEN_STATS_ORACLE, "token_stats")
            + compare_frames(incrstats.bigram_stats(sp, wh), con,
                             incrstats.INCR_BIGRAM_STATS_ORACLE, "bigram_stats")
            + compare_frames(incrstats.doc_stats(sp, wh), con,
                             DOC_STATS_ORACLE.format(tok=TOKENIZE_SQL.format(c="text")),
                             "doc_stats")
        )


WORKLOADS = {w.name: w for w in (BatchRebuild, OrdersRefresh, TokenStats)}
