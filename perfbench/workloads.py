"""The benchmark's two workloads and their output checks.

Each workload exposes ``op(i)``: one closed-loop operation, timed by the
caller, returning an :class:`Op`. Output checks run outside ``op`` and
so outside the timed region.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import statistics
import sys
import time
import types
from dataclasses import dataclass, field

import duckdb

import datagen

# The query mix is held to four catalog queries so a round fits the run
# budget: the reference pipeline and a scan-aggregate (Catalyst joins and
# aggregation over parquet), near-dup detection (dedup + hashing) and
# exact top-k (similarity).
SQL_MIX = ["fct_orders", "tpch_q1_pricing_summary"]
CORPUS_MIX = ["dedup_simhash", "similarity_brute_topk"]
QUERY_MIX = SQL_MIX + CORPUS_MIX


@dataclass
class Op:
    ok: bool = True
    write_s: float = 0.0
    read_s: float = 0.0
    detail: str = ""
    parts: dict[str, float] = field(default_factory=dict)

    @property
    def total_s(self) -> float:
        return self.write_s + self.read_s


def load_compare():
    """``frame_multiset`` from tools/check_oracle.py, unedited.

    That module imports a container-specific environment helper and
    prepends a fixed path to ``sys.path`` at import time; neither is
    needed for the compare, so the helper is stubbed and ``sys.path`` is
    restored afterwards."""
    saved = list(sys.path)
    stubbed = "local_env" not in sys.modules
    if stubbed:
        sys.modules["local_env"] = types.ModuleType("local_env")
    try:
        spec = importlib.util.spec_from_file_location(
            "perfbench_check_oracle", os.path.join("tools", "check_oracle.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
        if stubbed:
            del sys.modules["local_env"]
    return mod.frame_multiset


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _d, files in os.walk(path)
        for f in files
    )


# ---------------------------------------------------------------------
# elt_build
# ---------------------------------------------------------------------

_CSV_TYPES = {
    "orders": {
        "o_orderkey": "BIGINT", "o_custkey": "BIGINT", "o_orderstatus": "VARCHAR",
        "o_totalprice": "DECIMAL(18,2)", "o_orderdate": "DATE", "o_orderpriority": "VARCHAR",
    },
    "customer": {
        "c_custkey": "BIGINT", "c_name": "VARCHAR", "c_nationkey": "BIGINT",
        "c_acctbal": "DECIMAL(18,2)", "c_mktsegment": "VARCHAR",
    },
    "lineitem": {
        "l_orderkey": "BIGINT", "l_partkey": "BIGINT", "l_suppkey": "BIGINT",
        "l_linenumber": "BIGINT", "l_quantity": "DECIMAL(18,2)",
        "l_extendedprice": "DECIMAL(18,2)", "l_discount": "DECIMAL(18,2)",
        "l_tax": "DECIMAL(18,2)", "l_returnflag": "VARCHAR", "l_linestatus": "VARCHAR",
        "l_shipdate": "DATE",
    },
}

# fct_orders of models/tpch.py, with its decimal money math, over the CSVs
_FCT_ORDERS_SQL = """
WITH items AS (
    SELECT l_orderkey AS order_id,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
               AS total_item_revenue,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * CAST(l_tax AS DECIMAL(8,2)) AS DECIMAL(18,4)))
                AS DECIMAL(38,4)) AS total_shipping_revenue
    FROM lineitem GROUP BY 1
)
SELECT o.o_orderkey AS order_id, o.o_custkey AS customer_id,
       o.o_orderstatus AS order_status, o.o_orderdate AS purchased_at,
       c.c_mktsegment AS city, CAST(c.c_nationkey AS VARCHAR) AS state,
       i.total_item_revenue, i.total_shipping_revenue,
       CAST(i.total_item_revenue + i.total_shipping_revenue AS DECIMAL(38,4))
           AS total_order_value
FROM orders o
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN items i ON o.o_orderkey = i.order_id
"""


class EltBuild:
    """Cold full refresh of the reference DAG, one build per operation,
    each into a fresh warehouse directory: seed three CSVs, build the
    staging views and the ``fct_orders`` table, run five tests, gate."""

    name = "elt_build"
    max_ops = 1000
    # a build still gets 5-20 % faster from one operation to the next at
    # this point of the JVM's warm-up, so its median takes two builds
    min_timed_ops = 2

    def __init__(self, spark, work: str, seed: int, tracer, compare):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.compare = compare
        self.csvs = datagen.write_seed_csvs(seed, os.path.join(work, "data", "csv"))
        self.csv_bytes = sum(c["bytes"] for c in self.csvs.values())
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
        for t, types_ in _CSV_TYPES.items():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_csv("
                f"'{self.csvs[t]['path']}/*.csv', header=true, columns={types_!r})"
            )
        rel = con.sql(_FCT_ORDERS_SQL)
        self.expected = compare([d[0] for d in rel.description], rel.fetchall())
        con.close()
        self.stored_ratio: list[float] = []

    def _engine(self, wh: str):
        from pyspark.sql import functions as F

        from olist_snowflake_dbt_spark import runner
        from olist_snowflake_dbt_spark.models import tpch

        eng = runner.Engine(self.spark, wh)
        reg = eng.registry
        reg.register("stg_orders", tpch.stg_orders, materialized="view")
        reg.register("stg_customers", tpch.stg_customers, materialized="view", depends_on=())
        reg.register("stg_items", tpch.stg_items, materialized="view")
        reg.register("fct_orders", tpch.fct_orders, materialized="table",
                     depends_on=("stg_orders", "stg_customers", "stg_items"))
        eng.test_unique("fct_orders", "order_id")
        eng.test_not_null("fct_orders", "order_id")
        eng.test_relationships("fct_orders", "customer_id", "stg_customers", "customer_id")
        eng.test_accepted_values("fct_orders", "order_status", list(datagen.STATUSES))
        eng.test_singular("assert_revenue_is_non_negative", "fct_orders",
                          lambda df: df.filter(F.col("total_order_value") < 0))
        return eng

    def op(self, i: int) -> Op:
        from olist_snowflake_dbt_spark.operators.dq import TestStatus

        wh = os.path.join(self.work, f"warehouse-{i}")
        t0 = time.perf_counter()
        eng = self._engine(wh)
        eng.seed({name: c["path"] for name, c in self.csvs.items()})
        eng.run()
        t1 = time.perf_counter()
        results = eng.test()
        gate = len(results) == 5 and all(r.status == TestStatus.PASS for r in results)
        t2 = time.perf_counter()
        op = Op(write_s=t1 - t0, read_s=t2 - t1)
        if not gate:
            op.ok = False
            op.detail = "gate failed: " + ", ".join(
                f"{r.name}={r.status.value}({r.failures})" for r in results
            )
        return op

    def check(self, i: int, op: Op) -> None:
        """fct_orders of build ``i`` must equal DuckDB's over the CSVs."""
        wh = os.path.join(self.work, f"warehouse-{i}")
        if op.ok:
            df = self.spark.read.parquet(os.path.join(wh, "fct_orders"))
            got = self.compare(df.columns, df.collect())
            if got != self.expected:
                op.ok = False
                extra = list((got - self.expected).items())[:2]
                missing = list((self.expected - got).items())[:2]
                op.detail = f"fct_orders differs from DuckDB: extra={extra} missing={missing}"
            self.stored_ratio.append(_dir_bytes(wh) / self.csv_bytes)
        shutil.rmtree(wh, ignore_errors=True)

    def finish(self) -> tuple[bool, str]:
        return True, ""

    def summary(self, timed: list[Op]) -> dict[str, float]:
        return {"stored_bytes_per_input_byte": _median(self.stored_ratio)}


# ---------------------------------------------------------------------
# serve_mix
# ---------------------------------------------------------------------


class ServeMix:
    """A standing month-partitioned ``fct_orders``-style mart takes one
    upsert batch per operation (merge on ``order_id`` plus unique and
    not_null tests on the merged table), followed by one seeded-order pass
    over the query mix into the noop sink."""

    name = "serve_mix"
    min_timed_ops = 1

    def __init__(self, spark, work: str, seed: int, tracer, compare):
        from olist_snowflake_dbt_spark.operators.incremental import IncrementalTable

        self.spark = spark
        self.tracer = tracer
        self.compare = compare
        self.tables = os.path.join(work, "data", "tables")
        names = datagen.write_query_tables(seed, self.tables)
        self.merge = datagen.write_merge_inputs(seed, os.path.join(work, "data", "merge"))
        self.orders = datagen.pass_orders(seed, QUERY_MIX, len(self.merge["batches"]))
        datagen.write_json(os.path.join(work, "data", "passes.json"), self.orders)
        self.table = IncrementalTable(spark, self.merge["mart"], ("purchase_month",))
        self.applied = 0
        self.outputs: dict[str, tuple] = {}
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
        for t in names:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.tables, t)}.parquet'"
            )

    @property
    def max_ops(self) -> int:
        return len(self.merge["batches"])

    def op(self, i: int) -> Op:
        from olist_snowflake_dbt_spark.operators import dq
        from olist_snowflake_dbt_spark.operators.dq import TestStatus
        from olist_snowflake_dbt_spark.queries import QUERIES

        batch = self.merge["batches"][i]
        t0 = time.perf_counter()
        out = self.table.apply(
            self.spark.read.parquet(batch["path"]), strategy="merge", unique_key=["order_id"]
        )
        results = [
            dq.evaluate_test("unique_mart_order_id", dq.unique_failures(out, "order_id")),
            dq.evaluate_test("not_null_mart_order_id", dq.not_null_failures(out, "order_id")),
        ]
        t1 = time.perf_counter()
        self.applied = i + 1
        self.tracer.annotate(
            "incremental.apply",
            partitions_changed=len(batch["months"]),
            batch_bytes=batch["bytes"],
        )
        op = Op(write_s=t1 - t0)
        if not all(r.status == TestStatus.PASS for r in results):
            op.ok = False
            op.detail = "merge tests failed: " + ", ".join(
                f"{r.name}={r.status.value}({r.failures})" for r in results
            )
        first = i == 0  # the first pass is collected for the oracle check
        self.outputs = {}
        for name in self.orders[i]:
            q0 = time.perf_counter()
            try:
                with self.tracer.span(f"query.{name}"):
                    df = QUERIES[name](self.spark, self.tables)
                    if first:
                        self.outputs[name] = (df.columns, df.collect())
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failing query is counted, not fatal
                op.ok = False
                op.detail += f" {name} raised {type(exc).__name__}: {str(exc)[:200]}"
            op.parts[name] = time.perf_counter() - q0
        op.read_s = time.perf_counter() - t1
        return op

    def check(self, i: int, op: Op) -> None:
        """The first pass's outputs must equal each query's ORACLE_SQL."""
        from olist_snowflake_dbt_spark.queries import ORACLE_SQL

        for name, (cols, rows) in self.outputs.items():
            rel = self.con.sql(ORACLE_SQL[name])
            want = self.compare([d[0] for d in rel.description], rel.fetchall())
            if self.compare(cols, rows) != want:
                op.ok = False
                op.detail += f" {name} differs from its ORACLE_SQL"
        self.outputs = {}

    def finish(self) -> tuple[bool, str]:
        """The final table must equal a last-write-wins replay of the
        applied batches in DuckDB."""
        paths = [self.merge["standing"]] + [b["path"] for b in self.merge["batches"][: self.applied]]
        union = " UNION ALL ".join(
            f"SELECT *, {v} AS __v FROM read_parquet('{p}')" for v, p in enumerate(paths)
        )
        rel = self.con.sql(
            f"SELECT * EXCLUDE (__v, __rn) FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY order_id ORDER BY __v DESC) AS __rn FROM ({union})) WHERE __rn = 1"
        )
        want = self.compare([d[0] for d in rel.description], rel.fetchall())
        df = self.table.read()
        got = self.compare(df.columns, df.collect())
        self.con.close()
        if got != want:
            return False, (
                f"merged table differs from DuckDB replay: extra={list((got - want).items())[:2]} "
                f"missing={list((want - got).items())[:2]}"
            )
        return True, ""

    def summary(self, timed: list[Op]) -> dict[str, float]:
        return {
            "merge_p50_s": _median([o.write_s for o in timed]),
            "sql_pass_s": _median([sum(o.parts.get(q, 0.0) for q in SQL_MIX) for o in timed]),
            "corpus_pass_s": _median([sum(o.parts.get(q, 0.0) for q in CORPUS_MIX) for o in timed]),
        }


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


WORKLOADS = {EltBuild.name: EltBuild, ServeMix.name: ServeMix}
