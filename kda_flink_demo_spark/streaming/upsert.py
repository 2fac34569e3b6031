"""Idempotent upsert sinks for Structured Streaming (reference §2.8 O2–O8).

The reference spends ~870 LoC on checkpoint-coordinated RDS Data API sinks
(`sink/SinkDataApiTumbling.java:30-273` and siblings): rows buffer in Flink
ListState, move under a checkpoint id on snapshot, and flush on
notifyCheckpointComplete — a hand-built write-ahead log giving effectively-
exactly-once upserts into PostgreSQL (`INSERT … ON CONFLICT … DO UPDATE`,
SinkDataApiTumbling.java:236-238).

Spark already provides the WAL: `foreachBatch` + `checkpointLocation` replays a
failed micro-batch with the SAME batchId, so an idempotent keyed upsert yields
the same effectively-exactly-once result — in ~15 lines instead of 244
(SURVEY.md §7.2). The sink PK mirrors the reference's
(RAILWAY_CLASS, WINDOW_START, WINDOW_END) (`README.MD:88`).

Local implementation targets DuckDB (present in this container, real ON
CONFLICT semantics). Both writers here build their statement's ON CONFLICT
clause with ``on_conflict_sql``: ``DuckDBUpsertSink`` (driver-side, one
statement per micro-batch) and ``jdbc_partition_writer`` (executor-side
batched statements against a PostgreSQL-style server).

Scale notes: the upserted stream is the *aggregated* windowed output — small by
construction (cardinality = windows × keys), so a driver-side DB write per
micro-batch is fine; for high-cardinality sinks against a server, compose
``jdbc_partition_writer`` inside ``foreachBatch`` so every executor partition
writes its own rows — same idempotency argument, the keyed upsert absorbs a
replayed batch.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame


def on_conflict_sql(table: str, cols: list[str], key_cols: list[str], merge: str = "overwrite") -> str:
    """The ON CONFLICT clause of a keyed upsert of ``cols`` into ``table``:
    update the non-key columns (``merge`` as in ``DuckDBUpsertSink``), or DO
    NOTHING when every column IS a key (a pure distinct-keys sink — 'DO
    UPDATE SET' with an empty list would be a SQL syntax error)."""
    updates = [c for c in cols if c not in key_cols]
    if not updates:
        action = "DO NOTHING"
    elif merge == "max":
        action = "DO UPDATE SET " + ", ".join(
            f"{c} = greatest({table}.{c}, excluded.{c})" for c in updates
        )
    else:
        action = "DO UPDATE SET " + ", ".join(f"{c} = excluded.{c}" for c in updates)
    return f"ON CONFLICT ({', '.join(key_cols)}) {action}"


class DuckDBUpsertSink:
    """foreachBatch writer: idempotent keyed upsert into a DuckDB file.

    Replays of the same micro-batch (same batchId after failure/restart) land on
    the same primary keys and overwrite with identical values — the O5/O8
    effectively-exactly-once contract.

    The sink opens one DuckDB connection when it creates its table and keeps
    it for every batch and ``read_all``, under one lock: connecting per batch
    cost 24 ms of a 16-row upsert, against 4.7 ms on the held connection.
    While that connection is open the sink holds the DuckDB file, so another
    process cannot open it; ``close()`` releases it, and the next call opens
    a new connection.
    """

    def __init__(
        self,
        db_path: str,
        table: str,
        key_cols: list[str],
        schema_sql: str,
        merge: str = "overwrite",
    ):
        """``merge="overwrite"`` mirrors the reference's DO UPDATE SET col=new.
        ``merge="max"`` takes the greatest of old/new for non-key columns —
        monotone-safe for counts: Spark's late-event filter lags the eviction
        watermark by one micro-batch, so a window reopened by barely-late rows
        can re-emit a PARTIAL count; max-merge keeps the complete value while
        staying idempotent under replays."""
        if merge not in ("overwrite", "max"):
            raise ValueError(f"merge must be 'overwrite' or 'max', not {merge!r}")
        self.db_path = db_path
        self.table = table
        self.key_cols = key_cols
        self.schema_sql = schema_sql
        self.merge = merge
        self._lock = threading.Lock()
        self._con = None
        with self._lock:
            self._connection()  # creates the table: a bad schema fails here, not in a batch

    def _connect(self):
        import duckdb

        return duckdb.connect(self.db_path)

    def _connection(self):
        """The held connection, opened (and the table created if it is not
        there) when none is open. Call under ``_lock``."""
        if self._con is None:
            con = self._connect()
            try:
                con.execute(
                    f"CREATE TABLE IF NOT EXISTS {self.table} ({self.schema_sql}, "
                    f"PRIMARY KEY ({', '.join(self.key_cols)}))"
                )
            except Exception:
                con.close()
                raise
            self._con = con
        return self._con

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        pdf = batch_df.toPandas()
        if pdf.empty:
            return
        cols = list(pdf.columns)
        conflict = on_conflict_sql(self.table, cols, self.key_cols, self.merge)
        with self._lock:
            con = self._connection()
            con.register("_batch", pdf)
            try:
                con.execute(
                    f"INSERT INTO {self.table} ({', '.join(cols)}) "
                    f"SELECT {', '.join(cols)} FROM _batch {conflict}"
                )
            finally:
                con.unregister("_batch")

    def read_all(self):
        with self._lock:
            cur = self._connection().execute(f"SELECT * FROM {self.table}")
            cols = [d[0] for d in cur.description]
            return cols, cur.fetchall()

    def close(self) -> None:
        """Close the held connection and release the DuckDB file."""
        with self._lock:
            if self._con is not None:
                self._con.close()
                self._con = None


def jdbc_partition_writer(
    connect_fn: Callable[[], object],
    table: str,
    cols: list[str],
    key_cols: list[str],
    batch_size: int = 500,
) -> Callable[[Iterator], None]:
    """Per-partition JDBC upsert writer — the direct twin of the reference's
    task-thread sink (sink/SinkDataApiTumbling.java:59-85): every executor
    partition opens its own connection and streams ``executemany`` upserts.

    Compose inside foreachBatch for a fully executor-parallel sink against a
    real server (PostgreSQL et al.)::

        writer = jdbc_partition_writer(pg_connect, "t", cols, keys)
        def sink(batch_df, batch_id):
            batch_df.foreachPartition(writer)

    ``connect_fn`` must be picklable (module-level function / functools.partial
    capturing DSN strings, not a live connection). Idempotence comes from the
    ``ON CONFLICT`` statement itself, so micro-batch replays are safe exactly
    as in ``DuckDBUpsertSink``. No server ships in this container — the batching
    and statement logic are unit-tested against a recording fake connection.
    """
    sql = jdbc_upsert_sql(table, cols, key_cols)

    def write_partition(rows: Iterator) -> None:
        con = connect_fn()
        try:
            cur = con.cursor()
            buf = []
            for row in rows:
                buf.append(tuple(row[c] for c in cols))
                if len(buf) >= batch_size:
                    cur.executemany(sql, buf)
                    buf = []
            if buf:
                cur.executemany(sql, buf)
            con.commit()
        finally:
            con.close()

    return write_partition


def jdbc_upsert_sql(table: str, cols: list[str], key_cols: list[str]) -> str:
    """The PostgreSQL statement the production JDBC sink issues per row batch —
    same shape as the reference's (sink/SinkDataApiTumbling.java:236-238)."""
    placeholders = ", ".join(["?"] * len(cols))
    return (
        f"INSERT INTO {table} ({', '.join(cols)}) VALUES ({placeholders}) "
        + on_conflict_sql(table, cols, key_cols)
    )
