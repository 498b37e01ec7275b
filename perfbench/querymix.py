"""Query-mix workload: closed-loop passes over registered read-only queries.

Each query is forced with a ``noop`` write; the seed shuffles the order
within every pass. The warm-up pass collects each result instead and
hash-matches it against the query's DuckDB oracle, which also fills the
session fixture caches and any persisted index the queries serve from.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import time

#: query -> span (the layer that dominates its plan). On the sf0.01-sized
#: inputs the KPIs take 0.3-1 s and the graph and dedup operators (2-5 s)
#: set the tail.
MIX = {
    "revenue_trend_daily": "plans.kpi",
    "orders_per_minute": "plans.kpi",
    "top_products_by_revenue": "plans.kpi",
    "top_customers_by_spend": "plans.kpi",
    "order_status_distribution": "plans.kpi",
    "funnel_conversion": "plans.kpi",
    "revenue_by_nation": "plans.kpi",
    "dq_fk_orphans": "plans.dq",
    "dq_constraint_violations": "plans.dq",
    "events_asof_attribution": "plans.temporal",
    "parts_copurchase_pagerank": "operators.graph",
    "docs_neardup_minhash": "operators.dedup",
    "docs_bm25_search": "operators.text",
    "emb_knn_ivf": "operators.similarity",
    "docs_phrase_search_indexed": "operators.indexfmt",
}
SMOKE_MIX = ("orders_per_minute", "dq_fk_orphans", "docs_phrase_search_indexed")


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result with its columns sorted by name,
    values exact (floats by repr)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


class QueryMixWorkload:
    def __init__(self, spark, sf_dir: str, seed: int, names, tracer=None):
        import __spark_entry__ as entry

        from perfbench.spans import span_of

        self.spark, self.sf_dir, self.seed = spark, sf_dir, seed
        self.span = span_of(tracer)
        self.names = list(names)
        registry = entry.queries()
        self.fns = {n: registry[n] for n in self.names}
        self.oracles = entry.oracle_sql()
        self.passes = 0

    def order(self) -> list[str]:
        names = list(self.names)
        random.Random(self.seed * 7919 + self.passes).shuffle(names)
        self.passes += 1
        return names

    def run(self, name: str, collect: bool = False):
        """Plan and execute one query; returns (latency, rows or None)."""
        t0 = time.perf_counter()
        with self.span(MIX[name]):
            rows = self._execute(name, collect)
        return time.perf_counter() - t0, rows

    def _execute(self, name: str, collect: bool):
        df = self.fns[name](self.spark, self.sf_dir)
        if collect:
            return df.columns, [tuple(r) for r in df.collect()]
        df.write.format("noop").mode("overwrite").save()
        return None

    def check(self, name: str, result, break_check: bool = False) -> list[str]:
        """Hash-match a collected result against the DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        try:
            for f in os.listdir(self.sf_dir):
                con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{self.sf_dir}/{f}'")
            res = con.execute(self.oracles[name])
            want = result_hash([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        columns, rows = result
        got = result_hash(list(columns), rows)
        if break_check:
            got = got[::-1]
        if got != want:
            return [f"{name}: {len(rows)} rows do not hash-match the DuckDB oracle"]
        return []
