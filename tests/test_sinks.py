"""Upsert sink tests: SQL shape (reference K2-K5), idempotence,
batching/retry (K6), through a fake DB-API connection — no Postgres
in the container.
"""

from __future__ import annotations

import pytest

from flink_ecommerce_spark.sources import generator
from flink_ecommerce_spark.plans import sales
from flink_ecommerce_spark.streaming.sinks import (
    JdbcUpsertSink,
    MemoryUpsertSink,
    upsert_sql,
)


def test_upsert_sql_shape():
    sql = upsert_sql(
        "sales_per_category",
        ["transaction_date", "category", "total_sales"],
        ["transaction_date", "category"],
    )
    assert sql == (
        "INSERT INTO sales_per_category (transaction_date, category, total_sales) "
        "VALUES (%s, %s, %s) "
        "ON CONFLICT (transaction_date, category) DO UPDATE SET "
        "total_sales = EXCLUDED.total_sales"
    )


def test_memory_upsert_idempotent(spark):
    df = generator.transactions(spark, n_rows=200, seed=9)
    agg = sales.sales_per_day(df)
    sink = MemoryUpsertSink(("transaction_date",))
    sink.write_batch(agg)
    first = {k: tuple(v) for k, v in sink.state.items()}
    sink.write_batch(agg)  # replay the same batch (at-least-once delivery)
    second = {k: tuple(v) for k, v in sink.state.items()}
    assert first == second


# ---- fake DB-API plumbing ----------------------------------------------
# foreachPartition runs in separate Python worker processes, so the
# fake "database" is a file the workers append to and the driver reads.

import json
import os
import tempfile


class _FakeCursor:
    def __init__(self, path, fail_first=0):
        self.path = path
        self.fail_first = fail_first
        self.calls = 0

    def executemany(self, sql, rows):
        self.calls += 1
        if self.calls <= self.fail_first:
            raise RuntimeError("transient failure")
        with open(self.path, "a") as f:
            for row in rows:
                f.write(json.dumps([str(v) for v in row]) + "\n")


class _FakeConn:
    def __init__(self, path, fail_first=0):
        self.cursor_obj = _FakeCursor(path, fail_first)

    def cursor(self):
        return self.cursor_obj

    def commit(self):
        pass

    def rollback(self):
        pass

    def close(self):
        pass


def _read_store(path):
    rows = []
    if os.path.exists(path):
        with open(path) as f:
            rows = [tuple(json.loads(line)) for line in f]
    return rows


def _tmp_store():
    fd, path = tempfile.mkstemp(suffix=".fakejdbc")
    os.close(fd)
    os.unlink(path)
    return path


def test_jdbc_upsert_writes_all_rows(spark):
    path = _tmp_store()
    df = generator.transactions(spark, n_rows=500, seed=13).coalesce(1)
    agg = sales.sales_per_category(df)
    sink = JdbcUpsertSink(
        lambda: _FakeConn(path),
        "sales_per_category",
        ["transaction_date", "category", "total_sales"],
        ["transaction_date", "category"],
        batch_size=50,
    )
    sink.write_batch(agg)
    written = _read_store(path)
    assert len(written) == agg.count()
    # upsert key uniqueness holds in the source aggregation
    assert len({(r[0], r[1]) for r in written}) == len(written)


def test_jdbc_upsert_retries_then_succeeds(spark):
    path = _tmp_store()
    df = generator.transactions(spark, n_rows=50, seed=17).coalesce(1)
    agg = sales.sales_per_day(df).coalesce(1)
    sink = JdbcUpsertSink(
        lambda: _FakeConn(path, fail_first=2),
        "sales_per_day",
        ["transaction_date", "total_sales"],
        ["transaction_date"],
        max_retries=5,
    )
    sink.write_batch(agg)
    assert len(_read_store(path)) == agg.count()


def test_jdbc_upsert_exhausted_retries_raise(spark):
    path = _tmp_store()
    df = generator.transactions(spark, n_rows=20, seed=19).coalesce(1)
    agg = sales.sales_per_day(df).coalesce(1)
    sink = JdbcUpsertSink(
        lambda: _FakeConn(path, fail_first=10**9),
        "sales_per_day",
        ["transaction_date", "total_sales"],
        ["transaction_date"],
        max_retries=2,
    )
    with pytest.raises(Exception):
        sink.write_batch(agg)


# ---- staged MERGE sink (real engine: DuckDB) ---------------------------

from flink_ecommerce_spark.streaming.sinks import (  # noqa: E402
    StagedMergeSink,
    merge_upsert_sql,
)


def test_merge_upsert_sql_dialects():
    cols = ["transaction_date", "category", "total_sales"]
    keys = ["transaction_date", "category"]
    m = merge_upsert_sql("t", "SELECT * FROM stage", cols, keys, "merge")
    assert m == (
        "MERGE INTO t t USING (SELECT * FROM stage) s "
        "ON t.transaction_date = s.transaction_date AND t.category = s.category "
        "WHEN MATCHED THEN UPDATE SET total_sales = s.total_sales "
        "WHEN NOT MATCHED THEN INSERT (transaction_date, category, total_sales) "
        "VALUES (s.transaction_date, s.category, s.total_sales)"
    )
    oc = merge_upsert_sql("t", "SELECT * FROM stage", cols, keys, "on_conflict")
    assert oc == (
        "INSERT INTO t (transaction_date, category, total_sales) "
        "SELECT transaction_date, category, total_sales FROM (SELECT * FROM stage) "
        "ON CONFLICT (transaction_date, category) DO UPDATE SET "
        "total_sales = EXCLUDED.total_sales"
    )


def test_staged_merge_final_state_matches_memory_sink(spark, tmp_path):
    import duckdb

    db = str(tmp_path / "merge.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE sales_per_day (transaction_date DATE PRIMARY KEY, "
        "total_sales DOUBLE)"
    )
    con.close()

    cols = ["transaction_date", "total_sales"]
    keys = ["transaction_date"]
    merge_sink = StagedMergeSink(
        lambda: duckdb.connect(db),
        "sales_per_day",
        cols,
        keys,
        stage_dir=str(tmp_path / "stage"),
    )
    mem_sink = MemoryUpsertSink(keys)

    # two overlapping batches: day-ranges share keys, values change
    b1 = sales.sales_per_day(generator.transactions(spark, n_rows=300, seed=31))
    b2 = sales.sales_per_day(generator.transactions(spark, n_rows=400, seed=37))
    for epoch, batch in enumerate((b1, b2)):
        merge_sink.write_batch(batch, epoch)
        mem_sink.write_batch(batch, epoch)

    con = duckdb.connect(db)
    merged = {
        r[0].isoformat(): round(r[1], 6)
        for r in con.execute(
            "SELECT transaction_date, total_sales FROM sales_per_day"
        ).fetchall()
    }
    con.close()
    expected = {
        row["transaction_date"].isoformat(): round(row["total_sales"], 6)
        for row in mem_sink.rows()
    }
    assert merged == expected and len(merged) > 0


def test_staged_merge_collapses_duplicate_keys_in_batch(spark, tmp_path):
    import duckdb

    db = str(tmp_path / "dup.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE kv (k BIGINT PRIMARY KEY, v DOUBLE, ts BIGINT)")
    con.close()
    sink = StagedMergeSink(
        lambda: duckdb.connect(db),
        "kv",
        ["k", "v", "ts"],
        ["k"],
        stage_dir=str(tmp_path / "stage2"),
        order_col="ts",
    )
    batch = spark.createDataFrame(
        [(1, 10.0, 100), (1, 99.0, 200), (2, 5.0, 50)], "k long, v double, ts long"
    )
    sink.write_batch(batch, 0)
    con = duckdb.connect(db)
    rows = dict(
        (r[0], (r[1], r[2]))
        for r in con.execute("SELECT k, v, ts FROM kv ORDER BY k").fetchall()
    )
    con.close()
    # MERGE source reduced to latest-per-key: ts=200 wins for k=1
    assert rows == {1: (99.0, 200), 2: (5.0, 50)}


def test_merge_upsert_sql_all_key_columns_insert_only():
    """Every column in the key → no SET clause to emit; statement
    must degrade to insert-only instead of malformed SQL."""
    m = merge_upsert_sql("t", "SELECT * FROM s0", ["a", "b"], ["a", "b"], "merge")
    assert "WHEN MATCHED" not in m and "WHEN NOT MATCHED THEN INSERT" in m
    oc = merge_upsert_sql("t", "SELECT * FROM s0", ["a", "b"], ["a", "b"], "on_conflict")
    assert oc.endswith("DO NOTHING") and "DO UPDATE" not in oc


def test_staged_merge_prunes_committed_epochs(spark, tmp_path):
    """The stage dir must not grow without bound on a long-running
    stream: after each merge commits, earlier epoch directories are
    dropped and only the just-committed one is kept (so a foreachBatch
    retry of the same epoch stays idempotent)."""
    import os

    import duckdb

    db = str(tmp_path / "prune.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE kv (k BIGINT PRIMARY KEY, v DOUBLE)")
    con.close()
    stage = str(tmp_path / "stage_prune")
    sink = StagedMergeSink(
        lambda: duckdb.connect(db), "kv", ["k", "v"], ["k"], stage_dir=stage
    )
    for epoch in range(3):
        batch = spark.createDataFrame([(epoch, float(epoch))], "k long, v double")
        sink.write_batch(batch, epoch)
    assert sorted(os.listdir(stage)) == ["epoch=2"]
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM kv").fetchone()[0] == 3
    con.close()


def test_staged_merge_epoch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch may redeliver an epoch after a failure; re-staging
    (mode=overwrite) plus re-merging the same rows must land in the
    same final state — the at-least-once + idempotent-upsert contract
    the reference relies on (checkpointing off, DataStreamJob.java)."""
    import duckdb

    db = str(tmp_path / "retry.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE kv (k BIGINT PRIMARY KEY, v DOUBLE)")
    con.close()
    sink = StagedMergeSink(
        lambda: duckdb.connect(db), "kv", ["k", "v"], ["k"],
        stage_dir=str(tmp_path / "stage_retry"),
    )
    batch = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double")
    sink.write_batch(batch, 7)
    sink.write_batch(batch, 7)  # redelivery of the same epoch
    con = duckdb.connect(db)
    rows = dict(con.execute("SELECT k, v FROM kv").fetchall())
    con.close()
    assert rows == {1: 1.0, 2: 2.0}


def test_staged_merge_skips_empty_batch(spark, tmp_path):
    """foreachBatch routinely delivers empty micro-batches; the sink
    must stage a file the MERGE's read_parquet glob matches (an empty
    glob raises) and leave the target table untouched."""
    import duckdb

    db = str(tmp_path / "empty.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE kv (k BIGINT PRIMARY KEY, v DOUBLE)")
    con.close()
    sink = StagedMergeSink(
        lambda: duckdb.connect(db), "kv", ["k", "v"], ["k"],
        stage_dir=str(tmp_path / "stage_empty"),
    )
    empty = spark.createDataFrame([], "k long, v double")
    sink.write_batch(empty, 0)  # must not raise
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM kv").fetchone()[0] == 0
    con.close()
