"""Ingest workload: closed-loop ``run_pipeline`` cycles, each followed by a
``dashboard.read_marts``, with the outputs checked outside the timed span.

A cycle's latency runs from the publish call to ``read_marts`` returning
the batch, which is how fresh the dashboard is. Every cycle publishes new
keys at advanced offsets, so silver grows by one batch per cycle.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import ExitStack, contextmanager

import pyarrow.parquet as pq

from ecommerce_realtime_pipeline_spark import dashboard, pipeline
from ecommerce_realtime_pipeline_spark.operators import generate as G
from ecommerce_realtime_pipeline_spark.sources import produce as P
from ecommerce_realtime_pipeline_spark.streaming import ingest as I
from perfbench.spans import span_of

#: about 145 messages a cycle: fixed per-job and per-trigger cost dominates
SMALL_BATCH = {"product_count": 10, "customer_count": 10, "order_count": 25, "event_count": 100}
SMOKE_BATCH = {"product_count": 2, "customer_count": 2, "order_count": 3, "event_count": 5}

LAYER_DIRS = ("topics", "silver", "offsets", "ckpt", "gold")
SILVER_TABLES = (*pipeline.ENTITIES, "order_items")


def parquet_rows(table_dir: str) -> int:
    """Row count of a (bucketed) parquet table from its file footers."""
    n = 0
    for root, dirs, files in os.walk(table_dir):
        # leftovers of an interrupted swap are not part of the table
        dirs[:] = [d for d in dirs if "__" not in d and not d.startswith(("_", "."))]
        n += sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for f in files
            if f.endswith(".parquet")
        )
    return n


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


class Bronze:
    """What was published, read back from the topic files by the benchmark:
    distinct keys per entity, maximum offset per (topic, partition), and
    item lines per order."""

    def __init__(self, topics_dir: str):
        self.topics_dir = topics_dir
        self.keys: dict[str, set[str]] = {e: set() for e in pipeline.ENTITIES}
        self.max_offset: dict[tuple[str, int], int] = {}
        self.items: dict[str, int] = {}
        self._seen: set[str] = set()

    def refresh(self) -> None:
        for entity in pipeline.ENTITIES:
            for path in dir_files(os.path.join(self.topics_dir, entity)):
                if path in self._seen or not path.endswith(".json"):
                    continue
                self._seen.add(path)
                with open(path) as fh:
                    for line in fh:
                        msg = json.loads(line)
                        self.keys[entity].add(msg["message_key"])
                        tp = (msg["topic"], int(msg["topic_partition"]))
                        self.max_offset[tp] = max(
                            self.max_offset.get(tp, -1), int(msg["topic_offset"])
                        )
                        if entity == "orders":
                            payload = json.loads(msg["payload"])
                            self.items[payload["order_id"]] = len(payload.get("items") or [])


class IngestWorkload:
    """One pipeline work dir fed by seeded batches, cycle after cycle."""

    def __init__(self, spark, work_dir: str, seed: int, batch: dict, tracer=None, counters=None):
        self.spark, self.work_dir, self.seed, self.batch = spark, work_dir, seed, batch
        self.tracer, self.counters = tracer, counters
        self.span = span_of(tracer)
        self.bronze = Bronze(os.path.join(work_dir, "topics"))
        self.base_offset = 0
        self.cycles = 0
        self.payload_bytes = 0
        self.timed_run_ids: set[str] = set()
        self.timing = False
        self._silver_files = dir_files(os.path.join(work_dir, "silver"))

    # -- the timed operation ------------------------------------------------
    def _publisher(self, published: dict):
        def publish(spark, topics_dir, *args, **kwargs):
            metrics = P.ProducerMetrics()
            with self.span("sources.produce"):
                counts = P.produce_batch(spark, topics_dir, *args, metrics=metrics, **kwargs)
            published["metrics"] = metrics
            return counts

        return publish

    def cycle(self) -> dict:
        """Run one cycle; returns its latency and what it published."""
        published: dict = {}
        gold = os.path.join(self.work_dir, "gold")
        with ExitStack() as stack:
            if self.tracer is not None:
                stack.enter_context(self._trace_layers())
            t0 = time.perf_counter()
            summary = pipeline.run_pipeline(
                self.spark,
                self.work_dir,
                seed=self.seed * 100_003 + self.cycles,
                base_offset=self.base_offset,
                publisher=self._publisher(published),
                **self.batch,
            )
            with self.span("dashboard.read_marts"):
                marts = dashboard.read_marts(self.spark, gold)
            latency = time.perf_counter() - t0
        metrics = published["metrics"]
        self.cycles += 1
        n_msgs = sum(summary["published"].values())
        self.base_offset += n_msgs
        self.payload_bytes += metrics.produced_bytes
        if self.counters is not None:
            self.counters.add(produce_msgs=metrics.produced_messages, produce_bytes=metrics.produced_bytes)
        return {
            "latency_s": latency,
            "msgs": n_msgs,
            "publish_errors": metrics.errors,
            "marts": marts,
        }

    # -- tracing hooks (trace mode only) -------------------------------------
    @contextmanager
    def _trace_layers(self):
        tracer, counters = self.tracer, self.counters
        saved = [
            (pipeline, "run_pipeline"),
            (pipeline, "dq_gate"),
            (pipeline, "build_marts"),
            (I, "run_ingest"),
            (I, "upsert_batch"),
            (I, "record_offsets"),
            (G, "generate_batch"),
        ]
        originals = {(m, n): getattr(m, n) for m, n in saved}
        orig_materialize = G.SyntheticBatch.materialize

        def spanned(name, fn):
            def wrapper(*a, **kw):
                with tracer.span(name):
                    return fn(*a, **kw)

            return wrapper

        def dq_gate(*a, **kw):
            with tracer.span("pipeline.dq_gate"):
                tally, valid = originals[(pipeline, "dq_gate")](*a, **kw)
            rows = tally.collect()  # a local relation: no Spark job
            counters.add(
                dq_rows_in=sum(r["n_valid"] + r["n_quarantined"] for r in rows),
                dq_rows_quarantined=sum(r["n_quarantined"] for r in rows),
            )
            return tally, valid

        ingest_state = {"frame": None, "open": 0}

        class _Query:
            """Closes the streaming.ingest span when the last started
            query of the cycle has been awaited."""

            def __init__(self, q):
                self._q = q

            def __getattr__(self, name):
                return getattr(self._q, name)

            def awaitTermination(self, *a):  # noqa: N802 (Spark API)
                try:
                    return self._q.awaitTermination(*a)
                finally:
                    ingest_state["open"] -= 1
                    if ingest_state["open"] == 0 and ingest_state["frame"] is not None:
                        tracer.close(ingest_state["frame"])
                        ingest_state["frame"] = None

        def run_ingest(*a, **kw):
            if ingest_state["frame"] is None:
                ingest_state["frame"] = tracer.open("streaming.ingest")
            q = originals[(I, "run_ingest")](*a, **kw)
            ingest_state["open"] += 1
            if self.timing:
                self.timed_run_ids.add(str(q.runId))
            return _Query(q)

        def upsert_batch(spark, batch_df, entity, silver_path, *a, **kw):
            t0 = time.perf_counter()
            touched = originals[(I, "upsert_batch")](spark, batch_df, entity, silver_path, *a, **kw)
            dt = time.perf_counter() - t0
            rewritten = sum(parquet_rows(os.path.join(silver_path, f"bucket={b}")) for b in touched)
            counters.add(upsert_s=dt, touched_buckets=len(touched), rows_rewritten=rewritten)
            return touched

        def record_offsets(*a, **kw):
            t0 = time.perf_counter()
            try:
                return originals[(I, "record_offsets")](*a, **kw)
            finally:
                counters.add(offsets_s=time.perf_counter() - t0)

        replacements = {
            (pipeline, "run_pipeline"): spanned("pipeline.run_pipeline", originals[(pipeline, "run_pipeline")]),
            (pipeline, "dq_gate"): dq_gate,
            (pipeline, "build_marts"): spanned("pipeline.build_marts", originals[(pipeline, "build_marts")]),
            (I, "run_ingest"): run_ingest,
            (I, "upsert_batch"): upsert_batch,
            (I, "record_offsets"): record_offsets,
            (G, "generate_batch"): spanned("operators.generate", originals[(G, "generate_batch")]),
        }
        try:
            for (m, n), fn in replacements.items():
                setattr(m, n, fn)
            G.SyntheticBatch.materialize = spanned("operators.generate", orig_materialize)
            yield
        finally:
            for (m, n), fn in originals.items():
                setattr(m, n, fn)
            G.SyntheticBatch.materialize = orig_materialize

    # -- checks and storage (outside the timed span) --------------------------
    def layer_bytes(self) -> dict[str, int]:
        return {
            d: sum(dir_files(os.path.join(self.work_dir, d)).values()) for d in LAYER_DIRS
        }

    def silver_bytes_written(self) -> int:
        """Bytes of silver files that are new since the previous call."""
        now = dir_files(os.path.join(self.work_dir, "silver"))
        new = sum(size for path, size in now.items() if path not in self._silver_files)
        self._silver_files = now
        return new

    def check_cycle(self, result: dict, break_check: bool = False) -> list[str]:
        """Silver holds every distinct key published so far, the offsets
        ledger holds the maximum published offsets, the gate's tally covers
        every silver row, and the dashboard read returned this batch."""
        errors = []
        if result["publish_errors"]:
            errors.append(f"{result['publish_errors']} entity publishes failed")
        self.bronze.refresh()
        silver_dir = os.path.join(self.work_dir, "silver")
        silver = {t: parquet_rows(os.path.join(silver_dir, t)) for t in SILVER_TABLES}
        expected = {e: len(self.bronze.keys[e]) for e in pipeline.ENTITIES}
        expected["order_items"] = sum(self.bronze.items.values())
        if break_check:
            expected["products"] += 1
        for t in SILVER_TABLES:
            if silver[t] != expected[t]:
                errors.append(f"silver {t}: {silver[t]} rows, {expected[t]} distinct published")
        ledger: dict[tuple[str, int], int] = {}
        for entity in pipeline.ENTITIES:
            for r in pq.read_table(os.path.join(self.work_dir, "offsets", entity)).to_pylist():
                ledger[(r["topic"], r["partition_id"])] = r["offset_committed"]
        if ledger != self.bronze.max_offset:
            errors.append(f"offsets ledger {ledger} != published maxima {self.bronze.max_offset}")
        tally = {r["table_name"]: r for r in result["marts"].get("dq_gate", [])}
        for t in SILVER_TABLES:
            r = tally.get(t)
            got = None if r is None else r["n_valid"] + r["n_quarantined"]
            if got != silver[t]:
                errors.append(f"dq_gate {t}: n_valid + n_quarantined = {got}, silver has {silver[t]}")
        return errors

    def check_gold(self, marts: dict) -> list[str]:
        """Recompute the gold marts from the silver parquet with DuckDB,
        applying the gate's rules that a clean batch can trip (FKs and the
        unique (order_id, product_id) item line), and compare."""
        import duckdb

        silver = os.path.join(self.work_dir, "silver")
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone = 'UTC'")
            for t in SILVER_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{silver}/{t}/*/*.parquet', hive_partitioning = true)"
                )
            con.execute(
                "CREATE VIEW v_orders AS SELECT * FROM orders o WHERE o.customer_id IS NULL "
                "OR o.customer_id IN (SELECT customer_id FROM customers)"
            )
            con.execute(
                "CREATE VIEW v_events AS SELECT * FROM events e WHERE e.customer_id IS NULL "
                "OR e.customer_id IN (SELECT customer_id FROM customers)"
            )
            con.execute(
                "CREATE VIEW v_items AS SELECT * FROM (SELECT *, row_number() OVER ("
                "PARTITION BY order_id, product_id ORDER BY quantity, unit_price) AS rn "
                "FROM order_items) WHERE rn = 1 AND order_id IN (SELECT order_id FROM orders) "
                "AND product_id IN (SELECT product_id FROM products)"
            )
            want = {
                "revenue_by_status": con.execute(
                    "SELECT status, count(*), CAST(sum(total) AS DECIMAL(18,2)) FROM v_orders "
                    "GROUP BY status ORDER BY status"
                ).fetchall(),
                "orders_per_minute": con.execute(
                    "SELECT epoch(date_trunc('minute', created_at)), count(*) FROM v_orders "
                    "GROUP BY 1 ORDER BY 1"
                ).fetchall(),
                "top_products_by_quantity": con.execute(
                    "SELECT product_id, sum(quantity), CAST(sum(line_total) AS DECIMAL(18,2)) "
                    "FROM v_items GROUP BY product_id ORDER BY 2 DESC, product_id LIMIT 10"
                ).fetchall(),
                "event_type_counts": con.execute(
                    "SELECT event_type, count(*) FROM v_events GROUP BY event_type ORDER BY event_type"
                ).fetchall(),
            }
        finally:
            con.close()
        got = {
            "revenue_by_status": [
                (r["status"], r["n_orders"], r["revenue"]) for r in marts.get("revenue_by_status", [])
            ],
            "orders_per_minute": [
                (_epoch(r["minute"]), r["n_orders"]) for r in marts.get("orders_per_minute", [])
            ],
            "top_products_by_quantity": [
                (r["product_id"], r["total_quantity"], r["revenue"])
                for r in marts.get("top_products_by_quantity", [])
            ],
            "event_type_counts": [
                (r["event_type"], r["n_events"]) for r in marts.get("event_type_counts", [])
            ],
        }
        errors = []
        for mart, rows in want.items():
            norm = [tuple(_plain(v) for v in row) for row in rows]
            mine = [tuple(_plain(v) for v in row) for row in got[mart]]
            if norm != mine:
                errors.append(f"gold {mart} differs from DuckDB over silver: {mine[:3]} vs {norm[:3]}")
        return errors


def _epoch(iso: str) -> float:
    from datetime import datetime, timezone

    ts = datetime.fromisoformat(iso)
    if ts.tzinfo is None:  # pyspark hands back local wall-clock time
        ts = ts.astimezone(timezone.utc)
    return ts.timestamp()


def _plain(v):
    from decimal import Decimal

    if isinstance(v, (Decimal, float)):
        return str(Decimal(str(v)).quantize(Decimal("0.01")))
    return str(v)
