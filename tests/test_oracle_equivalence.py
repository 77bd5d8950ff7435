"""Mini-driver: run every registered query on Spark AND its DuckDB
oracle on the same parquet, compare row count + column names +
order-insensitive values — the repo's correctness gate over all
oracle-backed registry queries.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from flink_ecommerce_spark import registry

from tests.conftest import SF_SMALL

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for comparison across engines."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _rows_to_multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm(r[i]) for i in idx) for r in rows]
    key = lambda t: tuple((v is None, str(v)) for v in t)  # noqa: E731
    return sorted(normed, key=key), [cols[i] for i in idx]


@pytest.mark.parametrize("name", sorted(registry.oracle_sql()))
def test_query_matches_oracle(name, spark, duck):
    spec = registry.SPECS[name]
    sdf = spec.fn(spark, SF_SMALL)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(spec.oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} (spark) != {len(d_rows)} (duckdb)"
    )
    s_set, _ = _rows_to_multiset(s_cols, s_rows)
    d_set, _ = _rows_to_multiset(d_cols, d_rows)
    if s_set != d_set:
        diff_s = [r for r in s_set if r not in d_set][:5]
        diff_d = [r for r in d_set if r not in s_set][:5]
        raise AssertionError(
            f"{name}: values differ.\n spark-only: {diff_s}\n duck-only: {diff_d}"
        )


def test_all_queries_have_entries():
    qs = registry.queries()
    assert len(qs) >= 40
    for name, sql in registry.oracle_sql().items():
        assert name in qs
        assert sql.strip()


def test_rows_only_queries_run(spark):
    for name, spec in registry.SPECS.items():
        if spec.oracle is None:
            df = spec.fn(spark, SF_SMALL)
            assert df.count() >= 0, name
