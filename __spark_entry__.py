"""Query registry entry points.

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — name → (spark, sf_dir) -> DataFrame, one per oracle entry.
``oracle_sql()`` — name → DuckDB-runnable SQL with the same result as
the query of that name; every query has one.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ecommerce_realtime_pipeline_spark.plans import dq, gen, kpi, llm, temporal
from ecommerce_realtime_pipeline_spark.plans.dq import DQ_ORACLES
from ecommerce_realtime_pipeline_spark.plans.gen import GEN_ORACLES
from ecommerce_realtime_pipeline_spark.plans.llm import LLM_ORACLES
from ecommerce_realtime_pipeline_spark.plans.oracles import KPI_ORACLES
from ecommerce_realtime_pipeline_spark.plans.sqlhints import materialize_all
from ecommerce_realtime_pipeline_spark.plans.temporal import TEMPORAL_ORACLES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: top products by revenue
    (lineitem ⋈ broadcast(part) → partial-agg → top-k)."""
    return kpi.top_products_by_revenue(spark, "/root/testdata/sf0.001")


#: (plan module, its oracle table) in topic order. Each oracle key names
#: a function of the same name in its module, so this one tuple is both
#: the query registry and the oracle table.
_TOPICS = (
    (kpi, KPI_ORACLES),
    (dq, DQ_ORACLES),
    (temporal, TEMPORAL_ORACLES),
    (gen, GEN_ORACLES),
    (llm, LLM_ORACLES),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """name → (spark, sf_dir) -> DataFrame for every query that has an
    oracle, in topic order (kpi, dq, temporal, gen, llm).

    A query is registered by defining its function in a plan module and
    adding an entry under the same name to that module's oracle table;
    the name is looked up as an attribute of the module.
    """
    return {
        name: getattr(mod, name) for mod, oracles in _TOPICS for name in oracles
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query (same column names/types/values) —
    one for EVERY queries() entry. Three oracle classes, each named at
    its definition: computed replicas (the ANN pipelines with LSH
    planes/quantizers inlined, the multimodal decode round-trip, the
    iterative algorithms as recursive/chained CTEs, the sketches whose
    ESTIMATES match bit-for-bit, the streaming HLL whose oracle
    re-derives the registers from first principles), analytic contract
    oracles (streaming fixtures whose outputs are paper-derivable
    constants), and two FROZEN-CONTRACT (golden) oracles for the
    seed-deterministic generator outputs (gen_corrupt_validate_metrics,
    streaming_ingest_roundtrip) — weaker than computed oracles but
    still a full value-hash gate, and double-pinned by pytest.
    """
    # AS MATERIALIZED on every non-recursive CTE: identical results,
    # but stops DuckDB re-inlining shared CTEs (the shingle self-joins)
    # and re-running them per RECURSIVE iteration (the CC oracles went
    # 12-14 s → <2 s; suite oracle time 77 s → ~25 s). See sqlhints.py.
    return materialize_all(
        {name: sql for _, oracles in _TOPICS for name, sql in oracles.items()}
    )
