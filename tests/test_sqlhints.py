"""Unit pins for the DuckDB CTE-materialization rewriter: every plain
CTE gets ``AS MATERIALIZED``, while self-recursive CTEs, EVERY name in
a multi-entry ``WINDOW`` clause, and ``name AS (``-shaped text inside
string literals are left untouched (rewriting any of those would
produce invalid SQL and silently break an oracle at driver time)."""

from __future__ import annotations

from ecommerce_realtime_pipeline_spark.plans.sqlhints import materialize_ctes


def test_plain_cte_is_materialized():
    sql = "WITH a AS (SELECT 1 AS x) SELECT * FROM a"
    assert "a AS MATERIALIZED (" in materialize_ctes(sql)


def test_idempotent():
    sql = "WITH a AS (SELECT 1 AS x) SELECT * FROM a"
    once = materialize_ctes(sql)
    assert materialize_ctes(once) == once


def test_recursive_cte_exempt():
    sql = (
        "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL "
        "SELECT n + 1 FROM r WHERE n < 3) SELECT * FROM r"
    )
    assert "MATERIALIZED" not in materialize_ctes(sql)


def test_every_name_in_multi_window_list_exempt():
    sql = (
        "WITH c AS (SELECT 1 AS x) "
        "SELECT sum(x) OVER a, avg(x) OVER b FROM c "
        "WINDOW a AS (ORDER BY x), b AS (ORDER BY x DESC)"
    )
    out = materialize_ctes(sql)
    assert "c AS MATERIALIZED (" in out
    assert "a AS MATERIALIZED" not in out
    assert "b AS MATERIALIZED" not in out


def test_cte_after_window_clause_of_earlier_statement_not_confused():
    # a comma that does NOT immediately continue a window list must
    # reset the exemption (second CTE in a WITH list still rewritten)
    sql = "WITH a AS (SELECT 1 AS x), b AS (SELECT 2 AS y) SELECT * FROM a, b"
    out = materialize_ctes(sql)
    assert "a AS MATERIALIZED (" in out
    assert "b AS MATERIALIZED (" in out


def test_string_literal_shape_not_rewritten():
    sql = "WITH a AS (SELECT 'x AS (' AS s) SELECT * FROM a"
    out = materialize_ctes(sql)
    assert out.count("MATERIALIZED") == 1  # only the real CTE
    assert "'x AS (" in out  # literal untouched


def test_parens_inside_literals_do_not_break_window_tracking():
    sql = (
        "WITH c AS (SELECT ')(' AS s, 1 AS x) "
        "SELECT sum(x) OVER w1, s FROM c "
        "WINDOW w1 AS (ORDER BY x), w2 AS (ORDER BY x DESC)"
    )
    out = materialize_ctes(sql)
    assert "c AS MATERIALIZED (" in out
    assert "w1 AS MATERIALIZED" not in out
    assert "w2 AS MATERIALIZED" not in out


def test_every_registered_oracle_explains_in_duckdb():
    """Full-corpus guard for the rewriter and for hand-written oracle
    SQL: every oracle (post-materialization-hint) must PLAN in DuckDB.
    A hint rewrite that produced invalid SQL — or an oracle typo —
    fails here in milliseconds instead of burning a driver
    CORRECTNESS row. Also pins the registry: ``queries()`` is exactly
    the union of the five plan-module oracle tables, each name mapped
    to the function of that name in its module."""
    import duckdb

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    from ecommerce_realtime_pipeline_spark.plans import (
        dq,
        gen,
        kpi,
        llm,
        oracles as kpi_oracles,
        temporal,
    )

    tables = (
        (kpi, kpi_oracles.KPI_ORACLES),
        (dq, dq.DQ_ORACLES),
        (temporal, temporal.TEMPORAL_ORACLES),
        (gen, gen.GEN_ORACLES),
        (llm, llm.LLM_ORACLES),
    )
    queries = entry.queries()
    oracles = entry.oracle_sql()
    # the registry is the union of the five oracle tables: no name is
    # shadowed when they merge, and every query has exactly one oracle
    assert len(queries) == sum(len(t) for _, t in tables) == 213
    assert set(oracles) == set(queries)
    for mod, table in tables:
        for name in table:
            fn = queries[name]
            assert fn is getattr(mod, name), name
            assert (fn.__module__, fn.__name__) == (mod.__name__, name)
    for name, sql in oracles.items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as exc:  # pragma: no cover - the assert message
            raise AssertionError(f"oracle {name} does not plan: {exc}") from exc
