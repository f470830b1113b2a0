"""Shared session-scoped Spark fixture helpers."""

import pytest

from pink_spider_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pink-spider-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


def spark_vs_oracle(spark, tmp_path, name, events_sql):
    """Rows of query ``name`` on Spark and of its oracle on DuckDB over
    one tiny ``events`` table, built by the DuckDB SELECT ``events_sql``
    and read by both engines from the same parquet file."""
    import duckdb

    from pink_spider_spark.queries import ORACLES, QUERY_BUILDERS

    path = tmp_path / "events.parquet"
    with duckdb.connect() as con:
        con.execute(f"COPY ({events_sql}) TO '{path}' (FORMAT parquet)")
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
        want = sorted(con.execute(ORACLES[name]).fetchall())
    got = sorted(tuple(r) for r in
                 QUERY_BUILDERS[name](spark, str(tmp_path)).collect())
    return got, want
