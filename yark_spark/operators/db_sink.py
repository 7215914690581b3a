"""Transactional DB sink — the JDBC-sink posture of the north-star
(SURVEY.md §1.3, §4 'foreachBatch transactional JDBC writes') with an
injectable DB-API connection so tests exercise a real ACID store (stdlib
sqlite3 — fittingly, the reference's own storage engine).

DDL is GENERATED from yark_spark.schemas StructTypes plus a declarative
constraint map (PKs, FKs with CASCADE/RESTRICT — semantics surveyed from
the reference DDL, `/root/reference/schema.sql:3-92`); nothing is copied.

Batch flow per micro-batch (replaces the reference's per-row commits,
`cmds/archive.py:195,343`):
  1. collect the (small) micro-batch arrow-side,
  2. one executemany per table in FK order inside ONE transaction,
  3. commit — idempotent via INSERT OR IGNORE / guarded UPDATE, so Spark's
     at-least-once foreachBatch replays converge.

Two write shapes:
- ``write_batch``: driver-side, one transaction across tables in FK order
  — the honest shape for single-writer targets (SQLite) and for small
  foreachBatch micro-batches.
- ``write_partitioned``: foreachPartition + chunked executemany, one
  connection and commit per partition — the JDBC production shape; the
  DataFrame is never collected.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from yark_spark.schemas import ALL_TABLES, WRITE_ORDER
from yark_spark.session import ship_package

#: Primary keys per table (reference parity: `schema.sql` PK columns).
PRIMARY_KEYS: dict[str, tuple[str, ...]] = {
    "users": ("user_id",),
    "channels": ("channel_id",),
    "tags": ("name",),
    "video_tags": ("id",),
    "comments": ("comment_id",),
    "videos": ("video_id",),
    "history": ("history_id",),
    "playlists": ("playlist_id",),
    "playlist_videos": ("pl",),
}

#: Natural-key UNIQUE constraints. history's PK is a 64-bit surrogate hash
#: of (video, watched); the UNIQUE pins idempotency to the NATURAL compound
#: key (the reference's duplicate probe, `cmds/archive.py:341`) so a hash
#: collision between distinct rows can never masquerade as a duplicate.
UNIQUE_KEYS: dict[str, tuple[str, ...]] = {
    "history": ("video", "watched"),
}

#: FKs: table → [(column, ref_table, ref_column, on_delete)].
FOREIGN_KEYS: dict[str, list[tuple[str, str, str, str]]] = {
    "channels": [("uploader_id", "users", "user_id", "RESTRICT")],
    "video_tags": [
        ("video", "videos", "video_id", "CASCADE"),
        ("tag", "tags", "name", "CASCADE"),
    ],
    "comments": [
        ("video", "videos", "video_id", "CASCADE"),
        ("author", "users", "user_id", "CASCADE"),
        ("parent", "comments", "comment_id", "CASCADE"),
    ],
    "videos": [("channel", "channels", "channel_id", "RESTRICT")],
    "playlist_videos": [("playlist", "playlists", "playlist_id", "CASCADE")],
    # history.video deliberately has NO FK (schema.sql:72)
}

_SQL_TYPES = {
    "string": "TEXT",
    "long": "INTEGER",
    "bigint": "INTEGER",
    "double": "REAL",
    "boolean": "INTEGER",
    "timestamp": "INTEGER",  # epoch seconds at rest, like the reference
    "binary": "BLOB",
}


def generate_ddl() -> list[str]:
    """CREATE TABLE statements derived from the Spark StructTypes."""
    stmts = []
    for table in WRITE_ORDER:
        schema = ALL_TABLES[table]
        pk = PRIMARY_KEYS[table]
        cols = []
        for f in schema.fields:
            sql_t = _SQL_TYPES[f.dataType.typeName()]
            null = "" if f.nullable else " NOT NULL"
            pk_inline = " PRIMARY KEY" if pk == (f.name,) else ""
            cols.append(f"{f.name} {sql_t}{null}{pk_inline}")
        if table in UNIQUE_KEYS:
            cols.append(f"UNIQUE ({', '.join(UNIQUE_KEYS[table])})")
        for col, rt, rc, action in FOREIGN_KEYS.get(table, []):
            cols.append(f"FOREIGN KEY ({col}) REFERENCES {rt}({rc}) ON DELETE {action}")
        stmts.append(f"CREATE TABLE IF NOT EXISTS {table} (\n  " + ",\n  ".join(cols) + "\n)")
    return stmts


def apply_schema(conn) -> None:
    conn.execute("PRAGMA foreign_keys = ON")
    for stmt in generate_ddl():
        conn.execute(stmt)
    conn.commit()


def _coerce_row(field_names, row):
    """Epoch/int/bytes coercions for one Row, DB-API friendly."""
    import datetime as dt

    out = []
    for name in field_names:
        v = row[name]
        if isinstance(v, dt.datetime):
            v = int(v.timestamp())
        elif isinstance(v, bool):
            v = int(v)
        elif isinstance(v, bytearray):
            v = bytes(v)
        out.append(v)
    return tuple(out)


def _to_rows(df: DataFrame, table: str):
    """Micro-batch → python rows (driver-side; see write_partitioned for
    the executor-side shape)."""
    names = [f.name for f in ALL_TABLES[table].fields]
    return [_coerce_row(names, r) for r in df.select(*names).collect()]


def _insert_sql(table: str) -> str:
    schema = ALL_TABLES[table]
    cols = ", ".join(f.name for f in schema.fields)
    ph = ", ".join("?" for _ in schema.fields)
    return f"INSERT OR IGNORE INTO {table} ({cols}) VALUES ({ph})"


def write_partitioned(
    connection_factory: Callable[[], "object"],
    df: DataFrame,
    table: str,
    batch_size: int = 1000,
) -> None:
    """Partition-parallel keyed insert — the JDBC production shape
    (VERDICT r1 item 4): each partition opens its own connection and
    executemany's its slice in ``batch_size`` chunks, one commit per
    partition. Nothing is collected to the driver. INSERT OR IGNORE keeps
    at-least-once task retries convergent (first-writer-wins per key).

    Requires a DB that accepts concurrent writers (any real JDBC target;
    SQLite serializes writers via its file lock, so give the factory a
    generous timeout there — write_batch is the honest single-writer
    shape)."""
    names = [f.name for f in ALL_TABLES[table].fields]
    sql = _insert_sql(table)

    def _write(rows):
        conn = connection_factory()
        try:
            buf = []
            for r in rows:
                buf.append(_coerce_row(names, r))
                if len(buf) >= batch_size:
                    conn.executemany(sql, buf)
                    buf = []
            if buf:
                conn.executemany(sql, buf)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    ship_package(df.sparkSession)  # _write calls _coerce_row on workers
    df.select(*names).foreachPartition(_write)


def write_batch(conn, tables: dict[str, DataFrame]) -> None:
    """One transaction: INSERT OR IGNORE every table in FK order (first-
    writer-wins keyed dedup — W1 — which also makes replays no-ops)."""
    try:
        for table in WRITE_ORDER:
            if table not in tables:
                continue
            conn.executemany(_insert_sql(table), _to_rows(tables[table], table))
        conn.commit()
    except Exception:
        conn.rollback()
        raise


def db_history_sink(
    connection_factory: Callable[[], "object"],
    deduped: DataFrame,
    checkpoint: str,
    partitioned: bool = True,
):
    """foreachBatch streaming sink: per-micro-batch transactional insert of
    history rows through the DB connection (per-batch commit replaces the
    reference's per-row commit at `cmds/archive.py:343`).

    ``partitioned=True`` (default — VERDICT r2 item 8) writes each
    micro-batch via ``write_partitioned``: executor-side foreachPartition,
    nothing collected to the driver — the shape a real JDBC target needs at
    scale (the factory must be picklable and the DB must accept concurrent
    writers; SQLite serializes on its file lock, so give the factory a
    generous timeout). ``partitioned=False`` keeps the driver-side
    single-transaction ``write_batch`` — the honest shape for strictly
    single-writer local targets."""
    from pyspark.sql import functions as F

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        incoming = batch_df.withColumn(
            "history_id", F.xxhash64("video", "watched")
        ).select("history_id", "video", "watched")
        conn = connection_factory()
        try:
            apply_schema(conn)  # driver-side DDL before executors write
            if not partitioned:
                write_batch(conn, {"history": incoming})
        finally:
            conn.close()
        if partitioned:
            write_partitioned(connection_factory, incoming, "history")

    return (
        deduped.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
