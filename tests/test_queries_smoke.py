"""Smoke: every registered query runs at sf0.001 with a stable schema, and
every oracle is valid DuckDB SQL. (Value-level equivalence is covered by
tools/check.py and the driver's gate.)"""

from __future__ import annotations

import duckdb
import pytest

from _spark_multi_format_data_lake_pipeline_spark.queries import QUERIES
from _spark_multi_format_data_lake_pipeline_spark.sources.lake import TABLES


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


# Each query's fn runs ONCE per session: both tests below read its
# columns and row count from this cache (several queries build and
# drain versioned tables, so a second run would double their cost).
_RUNS: dict[str, tuple[list[str], int]] = {}


def _run(spark, sf_dir, name):
    if name not in _RUNS:
        df = QUERIES[name].fn(spark, sf_dir)
        _RUNS[name] = (df.columns, df.count())
    return _RUNS[name]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, name):
    columns, n = _run(spark, sf_dir, name)
    assert columns, f"{name} produced no columns"
    assert n >= 0


@pytest.mark.parametrize(
    "name", sorted(n for n, q in QUERIES.items() if q.oracle is not None)
)
def test_oracle_parses_and_columns_match(spark, sf_dir, duck, name):
    odf = duck.sql(QUERIES[name].oracle).df()
    columns, _ = _run(spark, sf_dir, name)
    assert sorted(columns) == sorted(odf.columns), name


def test_hll_union_estimate_close_to_exact(spark, sf_dir):
    from _spark_multi_format_data_lake_pipeline_spark.queries import QUERIES
    from _spark_multi_format_data_lake_pipeline_spark.sources.lake import load_table

    est = QUERIES["q101_hll_partial_union"].fn(spark, sf_dir).head()[
        "approx_distinct_users"
    ]
    exact = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert abs(est - exact) / exact < 0.05


def test_file_provenance_matches_parquet_footers(spark, sf_dir, tmp_path):
    from _spark_multi_format_data_lake_pipeline_spark.queries import QUERIES

    # multi-file table so provenance has >1 group
    src = spark.range(0, 1000).withColumnRenamed("id", "l_orderkey")
    src.repartition(4).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = QUERIES["q103_file_provenance"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 4
    assert sum(r["n_rows"] for r in out) == 1000
    assert all(r["file_name"].endswith(".parquet") for r in out)
