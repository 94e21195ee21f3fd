"""PostgreSQL/PostGIS dialect layer over the generic JDBC wrappers.

Behavioral reference: ckpronto/datamine_v2.0 talks to TimescaleDB/PostGIS
directly — COPY bulk loads (``STEP 1 - Ingest Raw Telemetry/
01_ingest_raw_telemetry.py:253-315``), ``TIMESTAMPTZ``/``GEOGRAPHY``/enum
DDL (``STEP 2 - Transform Raw Telemetry/02_raw_telemetry_transform.sql:
8-52``, ``00_database_setup.sql:7-11``), hash-key idempotent ingest
(``02_raw_telemetry_transform.py:345-378``) and transactional
validate-then-commit loads (``STEP 5 - CPD/05_load_candidates_to_db.py:
284-326``). Spark's JDBC writer is none of those things out of the box:
it is non-transactional batched INSERTs with JDBC-default type mapping.
This module closes each gap Spark-side:

- :func:`pg_url` — connection URL with the two properties that make a
  Postgres bulk write behave: ``reWriteBatchedInserts=true`` (the JDBC
  driver collapses row batches into multi-row INSERTs — the closest
  JDBC gets to COPY, typically 2-5x) and ``stringtype=unspecified``
  (string columns cast server-side, so TEXT values land in ``enum``,
  ``jsonb``, ``geography`` and ``timestamptz`` columns without client
  errors — the mechanism that lets WKT text from
  :func:`functions.wkt.wkt_point` become ``GEOGRAPHY(POINTZ, 4326)``).
- :func:`pg_column_types` — Spark schema → Postgres DDL fragment for
  ``createTableColumnTypes``, with per-column overrides for the PostGIS
  / enum / jsonb columns JDBC cannot infer.
- :func:`pg_upsert_sql` — ``INSERT .. ON CONFLICT`` statement for the
  reference's idempotent hash-key ingest.
- :func:`jdbc_execute` — driver-side statements in ONE transaction
  (commit / rollback-on-error), the reference's transactional-load
  envelope. Runs through ``java.sql.DriverManager`` on the driver JVM,
  so it works with whatever JDBC jar Spark already has (tested on
  embedded Derby; identical call path for the Postgres driver jar).
- :func:`write_jdbc_staged_swap` — the scale-safe load protocol: write
  executors-parallel into a stage table, validate the count, then
  atomically swap stage → live in one transaction (Postgres DDL is
  transactional, so readers never see a partial load).

Scale notes: the executor-parallel write is Spark's JDBC batched-insert
path — per-partition connections, ``batchsize`` rows per round trip.
At 100 TB the database is the bottleneck, not Spark; cap parallelism
with ``df.coalesce(n_connections)`` before calling, and size
``batchsize`` (10k default) to the row width.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


# Spark type -> Postgres DDL. Timestamps map to TIMESTAMPTZ (the session
# timezone is UTC, so instants round-trip; the reference's schema is
# TIMESTAMPTZ throughout), TIMESTAMP_NTZ to plain TIMESTAMP.
_PG_SIMPLE: dict[type, str] = {
    T.ByteType: "SMALLINT",
    T.ShortType: "SMALLINT",
    T.IntegerType: "INTEGER",
    T.LongType: "BIGINT",
    T.FloatType: "REAL",
    T.DoubleType: "DOUBLE PRECISION",
    T.StringType: "TEXT",
    T.BooleanType: "BOOLEAN",
    T.BinaryType: "BYTEA",
    T.DateType: "DATE",
    T.TimestampType: "TIMESTAMPTZ",
    T.TimestampNTZType: "TIMESTAMP",
}


def pg_url(
    host: str,
    database: str,
    port: int = 5432,
    *,
    rewrite_batched_inserts: bool = True,
    stringtype_unspecified: bool = True,
    **props: str,
) -> str:
    """JDBC URL for Postgres with bulk-write-appropriate defaults.

    ``stringtype=unspecified`` is what lets Spark StringType columns land
    in enum / jsonb / geography / timestamptz server types (the server
    performs the cast); ``reWriteBatchedInserts=true`` collapses the
    writer's batches into multi-row INSERTs. Extra driver properties pass
    through as ``key=value`` pairs.
    """
    kv: dict[str, str] = {}
    if rewrite_batched_inserts:
        kv["reWriteBatchedInserts"] = "true"
    if stringtype_unspecified:
        kv["stringtype"] = "unspecified"
    kv.update({k: str(v) for k, v in props.items()})
    qs = "&".join(f"{k}={v}" for k, v in kv.items())
    base = f"jdbc:postgresql://{host}:{port}/{database}"
    return f"{base}?{qs}" if qs else base


def pg_type(dt: T.DataType) -> str:
    """Postgres DDL type for one Spark type (arrays of simple element
    types map to Postgres arrays; decimals keep precision/scale)."""
    if isinstance(dt, T.DecimalType):
        return f"NUMERIC({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"{pg_type(dt.elementType)}[]"
    for cls, ddl in _PG_SIMPLE.items():
        if isinstance(dt, cls):
            return ddl
    raise TypeError(f"no Postgres mapping for Spark type {dt.simpleString()}")


def pg_column_types(
    df: DataFrame, overrides: Mapping[str, str] | None = None
) -> str:
    """``createTableColumnTypes`` string for ``df.write.format("jdbc")``:
    every column mapped by :func:`pg_type`, with ``overrides`` for the
    server-only types JDBC cannot infer — e.g.
    ``{"current_position": "GEOGRAPHY(POINTZ, 4326)",
    "extras": "JSONB", "state": "telemetry_state_enum"}`` (the
    reference's transform DDL, ``02_raw_telemetry_transform.sql:49-66``).
    Overridden columns must be StringType on the Spark side (the text →
    server-type cast is what ``stringtype=unspecified`` enables).
    """
    ov = dict(overrides or {})
    unknown = set(ov) - set(df.columns)
    if unknown:
        raise ValueError(f"override columns not in DataFrame: {sorted(unknown)}")
    parts = []
    for f in df.schema.fields:
        ddl = ov.get(f.name, None) or pg_type(f.dataType)
        parts.append(f"{f.name} {ddl}")
    return ", ".join(parts)


def pg_upsert_sql(
    table: str,
    columns: Sequence[str],
    key_columns: Sequence[str],
    update_columns: Sequence[str] | None = None,
) -> str:
    """``INSERT .. ON CONFLICT`` template (``?`` placeholders, one per
    column) for the reference's idempotent hash-key ingest
    (``02_raw_telemetry_transform.py:345-378`` — NOT EXISTS on
    ``raw_event_hash_id``). ``update_columns=None`` → DO NOTHING
    (pure idempotent insert); otherwise DO UPDATE SET on those columns.
    Pair with :func:`jdbc_execute` for driver-side control tables, or
    hand to ``foreachBatch`` for the streaming upgrade path.
    """
    cols = ", ".join(columns)
    ph = ", ".join("?" for _ in columns)
    keys = ", ".join(key_columns)
    head = f"INSERT INTO {table} ({cols}) VALUES ({ph}) ON CONFLICT ({keys})"
    if not update_columns:
        return f"{head} DO NOTHING"
    sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in update_columns)
    return f"{head} DO UPDATE SET {sets}"


def jdbc_execute(
    spark: SparkSession, url: str, statements: Sequence[str]
) -> None:
    """Run ``statements`` on the driver over ONE connection in ONE
    transaction: all-or-nothing commit, rollback + re-raise on any error
    — the reference loader's transactional envelope
    (``05_load_candidates_to_db.py:284-326``). Driver-side by design:
    this is for DDL / swaps / control rows, never for data volume (the
    data path is the executor-parallel JDBC writer).
    """
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.setAutoCommit(False)
        stmt = conn.createStatement()
        try:
            for sql in statements:
                stmt.execute(sql)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            stmt.close()
    finally:
        conn.close()


def _write_stage_and_validate(
    df: DataFrame,
    url: str,
    table: str,
    stage: str,
    expected_rows: int,
    batchsize: int,
    create_table_column_types: str | None,
    options: dict,
) -> None:
    """Executor-parallel JDBC write into ``stage`` + count validation.
    The live ``table`` is untouched on any failure."""
    spark = df.sparkSession
    # drop any stale stage from a previous failed run, then write fresh
    try:
        jdbc_execute(spark, url, [f"DROP TABLE {stage}"])
    except Exception:
        pass  # stage didn't exist
    w = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", stage)
        .option("batchsize", str(batchsize))
        .options(**options)
    )
    if create_table_column_types:
        w = w.option("createTableColumnTypes", create_table_column_types)
    w.mode("overwrite").save()

    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", f"(SELECT COUNT(*) AS n FROM {stage}) q")
        .options(**options)
        .load()
    )
    got = back.first()[0]
    if got != expected_rows:
        raise ValueError(
            f"staged write validation failed: {got} rows != expected "
            f"{expected_rows} in {stage}; live table {table} untouched"
        )


def write_jdbc_truncate_insert(
    df: DataFrame,
    url: str,
    table: str,
    expected_rows: int,
    columns: Sequence[str],
    *,
    stage_suffix: str = "__stage",
    batchsize: int = 10000,
    create_table_column_types: str | None = None,
    **options,
) -> None:
    """Validated publish that PRESERVES the live table's identity —
    indexes, constraints, grants, triggers, and dependent views all
    survive, unlike :func:`write_jdbc_staged_swap`'s rename.

    Three phases: (1) executor-parallel JDBC write into
    ``{table}{stage_suffix}`` (a failed distributed write never touches
    the live table); (2) count validation against ``expected_rows``;
    (3) one driver transaction: ``DELETE FROM live; INSERT INTO live
    (cols) SELECT cols FROM stage; DROP stage`` — set-based and
    server-side, so readers see the old rows until the commit, the
    closest Spark-side equivalent of the reference loader's
    in-transaction TRUNCATE + COPY
    (``05_load_candidates_to_db.py:163-195,284-326``; DELETE rather
    than TRUNCATE because TRUNCATE is not transactional in every
    dialect — Derby included — while DELETE is everywhere).

    ``columns`` pins the insert column list explicitly: the stage table
    is created by Spark from ``df``'s schema, whose column ORDER need
    not match a live table that carries defaults/serial columns. The
    SELECT side quotes each name (Spark's JDBC writer creates the stage
    with quoted, case-exact identifiers) while the INSERT target list
    stays unquoted (the live table follows the database's folding
    convention — lowercase in Postgres, uppercase in Derby).
    """
    stage = f"{table}{stage_suffix}"
    spark = df.sparkSession
    _write_stage_and_validate(
        df, url, table, stage, expected_rows, batchsize,
        create_table_column_types, options,
    )
    target_cols = ", ".join(columns)
    stage_cols = ", ".join(f'"{c}"' for c in columns)
    jdbc_execute(
        spark,
        url,
        [
            f"DELETE FROM {table}",
            f"INSERT INTO {table} ({target_cols}) "
            f"SELECT {stage_cols} FROM {stage}",
            f"DROP TABLE {stage}",
        ],
    )


def write_jdbc_staged_swap(
    df: DataFrame,
    url: str,
    table: str,
    expected_rows: int,
    *,
    stage_suffix: str = "__stage",
    batchsize: int = 10000,
    create_table_column_types: str | None = None,
    dialect: str = "postgres",
    **options,
) -> None:
    """Validated atomic publish: executor-parallel JDBC write into
    ``{table}{stage_suffix}``, post-write count validation, then an
    atomic stage → live rename in one driver transaction. Readers see
    the old table until the swap commits — the Spark-side equivalent of
    the reference's in-transaction COPY + validate + commit
    (``05_load_candidates_to_db.py:163-195,284-326``), restructured
    because Spark's distributed write cannot run inside one DB
    transaction.

    ``dialect='postgres'`` swaps with transactional DDL (DROP old +
    RENAME stage in one txn). ``dialect='derby'`` (tests) lacks DROP
    inside the same guarantees but RENAME TABLE works the same way.

    CAVEAT — table identity is NOT preserved: the rename replaces the
    live table object, silently discarding its indexes, constraints,
    grants, and triggers, and the non-CASCADE DROP fails outright if a
    view depends on the table. Use this only for plain,
    index/dependency-free landing tables; for tables with indexes or
    dependent views use :func:`write_jdbc_truncate_insert`, which keeps
    the live table object (the reference loader's TRUNCATE + COPY shape,
    ``05_load_candidates_to_db.py:163-195``).
    """
    stage = f"{table}{stage_suffix}"
    spark = df.sparkSession
    _write_stage_and_validate(
        df, url, table, stage, expected_rows, batchsize,
        create_table_column_types, options,
    )
    if dialect == "postgres":
        swap = [
            f"DROP TABLE IF EXISTS {table}",
            f"ALTER TABLE {stage} RENAME TO {table}",
        ]
    elif dialect == "derby":
        try:
            jdbc_execute(spark, url, [f"DROP TABLE {table}"])
        except Exception:
            pass  # first publish: no live table yet
        swap = [f"RENAME TABLE {stage} TO {table}"]
    else:
        raise ValueError(f"unknown dialect {dialect!r}")
    jdbc_execute(spark, url, swap)
