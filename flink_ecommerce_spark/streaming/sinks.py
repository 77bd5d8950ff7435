"""Upsert sinks for foreachBatch (reference K2-K5: JDBC
INSERT ... ON CONFLICT upserts, DataStreamJob.java:185-272; batching
and retry config K6 at :100-104).

Three implementations of one contract (idempotent keyed upsert):

- ``MemoryUpsertSink`` — driver-side dict keyed by the upsert key;
  used by tests to assert final-table-state equivalence between the
  batch and streaming paths.
- ``JdbcUpsertSink`` — production row-wise path: per-batch ON
  CONFLICT upsert through a DB-API connection factory (psycopg2
  etc.), batched executemany with retries (the reference's 1000-row /
  5-retry semantics). The container has no Postgres, so it's
  exercised in tests through a fake DB-API connection.
- ``StagedMergeSink`` — set-based MERGE path: stage the micro-batch
  as parquet (distributed write), apply ONE MERGE INTO /
  INSERT..ON CONFLICT statement reading the staged files. Exercised
  in tests against a real engine (DuckDB).

Scale notes: foreachBatch hands the micro-batch DataFrame to the
sink; MemoryUpsertSink collects (test-only by design), while the
JDBC sink writes per-partition via ``df.foreachPartition`` so
executors connect directly — the driver never materializes the
batch.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Row


class MemoryUpsertSink:
    """Keyed upsert into a driver-side dict. Final state == what the
    reference's Postgres table holds after the same events."""

    def __init__(self, key_cols: Sequence[str]):
        self.key_cols = tuple(key_cols)
        self.state: dict[tuple, Row] = {}

    def write_batch(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        for row in batch_df.collect():
            self.state[tuple(row[k] for k in self.key_cols)] = row

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return self.write_batch

    def rows(self) -> list[Row]:
        return list(self.state.values())


def upsert_sql(
    table: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    placeholder: str = "%s",
) -> str:
    """INSERT ... ON CONFLICT DO UPDATE statement (reference K2-K5
    shape, e.g. DataStreamJob.java:240-258 for transactions).
    ``placeholder`` follows the target's DB-API paramstyle ("%s" for
    psycopg2, "?" for DuckDB/SQLite)."""
    collist = ", ".join(columns)
    placeholders = ", ".join([placeholder] * len(columns))
    keylist = ", ".join(key_cols)
    updates = ", ".join(
        f"{c} = EXCLUDED.{c}" for c in columns if c not in set(key_cols)
    )
    return (
        f"INSERT INTO {table} ({collist}) VALUES ({placeholders}) "
        f"ON CONFLICT ({keylist}) DO UPDATE SET {updates}"
    )


def merge_upsert_sql(
    table: str,
    source: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    dialect: str = "merge",
) -> str:
    """ONE set-based upsert statement ingesting ``source`` (a table
    name or subquery, e.g. ``read_parquet('stage/*.parquet')``) into
    ``table``.

    dialect='merge': ANSI/Delta/Iceberg/Postgres-15 MERGE INTO.
    dialect='on_conflict': INSERT .. SELECT .. ON CONFLICT DO UPDATE
    (DuckDB / Postgres<15 / SQLite form — used by the in-sandbox
    tests since the bundled DuckDB predates MERGE)."""
    collist = ", ".join(columns)
    updates = ", ".join(
        f"{c} = {'s' if dialect == 'merge' else 'EXCLUDED'}.{c}"
        for c in columns
        if c not in set(key_cols)
    )
    # all columns are key columns -> nothing to update on match;
    # emit an insert-only statement instead of a malformed empty SET
    if dialect == "merge":
        on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
        svals = ", ".join(f"s.{c}" for c in columns)
        matched = f"WHEN MATCHED THEN UPDATE SET {updates} " if updates else ""
        return (
            f"MERGE INTO {table} t USING ({source}) s ON {on} "
            f"{matched}"
            f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({svals})"
        )
    if dialect == "on_conflict":
        keylist = ", ".join(key_cols)
        action = f"DO UPDATE SET {updates}" if updates else "DO NOTHING"
        return (
            f"INSERT INTO {table} ({collist}) SELECT {collist} FROM ({source}) "
            f"ON CONFLICT ({keylist}) {action}"
        )
    raise ValueError(f"unknown dialect {dialect!r}")


class StagedMergeSink:
    """MERGE-shaped batch upsert: the Delta/Iceberg-style twin of
    JdbcUpsertSink's row-at-a-time executemany.

    Per micro-batch:
    1. reduce to ONE row per key (MERGE forbids duplicate source
       keys): latest by ``order_col`` when given, else a
       deterministic max over the non-key columns;
    2. stage the reduced batch as parquet — a DISTRIBUTED
       executor-side write, no driver materialization, no per-row
       round-trips;
    3. issue one set-based statement (``merge_upsert_sql``) whose
       source reads the staged files directly
       (``read_parquet('<stage>/*.parquet')``), exactly how a
       warehouse MERGE ingests a staged load.

    ``connection_factory`` returns a DB-API connection to the target
    engine (DuckDB in tests; anything with MERGE or ON CONFLICT in
    production). Final state is identical to the row-wise sinks —
    pinned by tests against MemoryUpsertSink."""

    def __init__(
        self,
        connection_factory: Callable[[], object],
        table: str,
        columns: Sequence[str],
        key_cols: Sequence[str],
        stage_dir: str,
        dialect: str = "on_conflict",
        order_col: str | None = None,
    ):
        self.connection_factory = connection_factory
        self.table = table
        self.columns = tuple(columns)
        self.key_cols = tuple(key_cols)
        self.stage_dir = stage_dir
        self.dialect = dialect
        self.order_col = order_col

    def _reduce_to_latest(self, batch_df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        non_key = [c for c in self.columns if c not in self.key_cols]
        if not non_key:
            return batch_df.select(*self.columns).distinct()
        # latest-per-key as a max-struct aggregation (map-side
        # combine; no per-key sort): struct field order = the sort
        # order — order_col first when given, then the remaining
        # non-key columns as a deterministic tie-break (the window
        # form this replaces left order_col ties arbitrary)
        lead = (
            [self.order_col] + [c for c in non_key if c != self.order_col]
            if self.order_col
            else non_key
        )
        reduced = (
            batch_df.select(*self.columns)
            .groupBy(*self.key_cols)
            .agg(F.max(F.struct(*lead)).alias("__m"))
        )
        return reduced.select(
            *self.key_cols, *[F.col(f"__m.{c}").alias(c) for c in non_key]
        )

    def write_batch(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        reduced = self._reduce_to_latest(batch_df)
        # one pass over the batch plan: an empty micro-batch (routine
        # under foreachBatch) still stages one schema-only part file,
        # so the glob below matches and the MERGE reads zero rows
        stage = f"{self.stage_dir}/epoch={epoch_id or 0}"
        reduced.write.mode("overwrite").parquet(stage)
        sql = merge_upsert_sql(
            self.table,
            f"SELECT * FROM read_parquet('{stage}/*.parquet')",
            self.columns,
            self.key_cols,
            self.dialect,
        )
        conn = self.connection_factory()
        try:
            conn.execute(sql)
            if hasattr(conn, "commit"):
                conn.commit()
        finally:
            conn.close()
        self._prune_stage(keep=stage)

    def _prune_stage(self, keep: str) -> None:
        """Drop every epoch directory except ``keep`` once its merge
        has committed — a long-running stream would otherwise grow the
        stage dir without bound. The just-committed epoch is retained
        so a foreachBatch retry of the same epoch re-merges
        idempotently instead of failing on a missing glob.

        Local filesystems only: an object-store stage (s3://, gs://,
        ...) is left to a bucket lifecycle/TTL rule — driver-side
        directory walks are the wrong tool there."""
        if "://" in self.stage_dir:
            return
        import glob
        import os
        import shutil

        for d in glob.glob(os.path.join(self.stage_dir, "epoch=*")):
            if os.path.abspath(d) != os.path.abspath(keep):
                shutil.rmtree(d, ignore_errors=True)

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return self.write_batch


class JdbcUpsertSink:
    """Per-batch idempotent JDBC upsert with the reference's batching
    knobs (K6: batch 1000 / 5 retries, DataStreamJob.java:100-104).

    ``connection_factory`` returns a DB-API connection; it must be
    picklable (a top-level function), because it runs inside
    ``foreachPartition`` on executors.
    """

    def __init__(
        self,
        connection_factory: Callable[[], object],
        table: str,
        columns: Sequence[str],
        key_cols: Sequence[str],
        batch_size: int = 1000,
        max_retries: int = 5,
        placeholder: str = "%s",
    ):
        self.connection_factory = connection_factory
        self.table = table
        self.columns = tuple(columns)
        self.key_cols = tuple(key_cols)
        self.batch_size = batch_size
        self.max_retries = max_retries
        self.sql = upsert_sql(table, columns, key_cols, placeholder)

    def write_batch(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        factory, sql, cols = self.connection_factory, self.sql, self.columns
        batch_size, max_retries = self.batch_size, self.max_retries

        def write_partition(rows) -> None:
            buf: list[tuple] = []
            conn = factory()
            try:
                cur = conn.cursor()

                def flush() -> None:
                    if not buf:
                        return
                    for attempt in range(max_retries):
                        try:
                            cur.executemany(sql, buf)
                            conn.commit()
                            buf.clear()
                            return
                        except Exception:
                            conn.rollback()
                            if attempt == max_retries - 1:
                                raise
                            time.sleep(0.2 * (attempt + 1))

                for row in rows:
                    buf.append(tuple(row[c] for c in cols))
                    if len(buf) >= batch_size:
                        flush()
                flush()
            finally:
                conn.close()

        batch_df.select(*self.columns).foreachPartition(write_partition)

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return self.write_batch
