"""Staging-table merge upsert against a live SQL target (reference
R12: MySQL ``INSERT … ON DUPLICATE KEY UPDATE hash=hash``,
/root/reference/app/salesforce_extractor.py:211-221, with the
create-if-absent DDL of :169-181).

The reference streams per-batch INSERT statements through the driver.
The Spark-native scale shape is different and strictly better:

  1. the batch DataFrame is written DISTRIBUTED to a staging table
     (``jdbc_write`` — executors open parallel JDBC connections, 2500
     rows per round-trip, nothing funnels through the driver);
  2. ONE set-based merge statement runs server-side, moving staging
     into the target under the unique key — the database does a single
     relational merge instead of N client round-trips;
  3. the staging table is dropped.

Dialect coverage: ``mysql`` (the reference's target), ``postgres`` /
``sqlite`` (ON CONFLICT), and ``ansi`` (MERGE INTO — Oracle/MSSQL/
Delta/Iceberg SQL endpoints). The sandbox has no JDBC driver jar or
server, so tests drive the identical statement pipeline through a
sqlite3 DBAPI runner (tests/test_operators.py); a real cluster passes
nothing and gets the JDBC DriverManager path.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from .upsert import jdbc_write

# Spark simpleString -> portable SQL column type. Key columns get the
# narrower _KEY_STRING width: InnoDB caps index keys at 3072 bytes and
# utf8mb4 charges 4 bytes/char, so a VARCHAR(1024) in a UNIQUE
# constraint (4096 bytes) is rejected with MySQL error 1071. 255 chars
# (1020 bytes) indexes everywhere and covers the 64-char content hash.
_KEY_STRING = "VARCHAR(255)"
_SQL_TYPES = {
    "string": "VARCHAR(1024)",
    "bigint": "BIGINT",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "tinyint": "SMALLINT",
    "double": "DOUBLE PRECISION",
    "float": "REAL",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "binary": "BLOB",
}

# Width-faithful lead-activity DDL, mirroring the reference's declared
# column widths one-for-one (salesforce_extractor.py:62-76: hash
# String(16) unique, lead_id/session_id/type_id/event_category
# String(255), url String(1024), order String(50), event_name
# String(256), date DateTime). Note `order` — a reserved word in every
# target dialect — which is why ALL identifiers below are quoted.
LEAD_ACTIVITY_COLUMN_TYPES: dict[str, str] = {
    "hash": "VARCHAR(16)",
    "lead_id": "VARCHAR(255)",
    "url": "VARCHAR(1024)",
    "session_id": "VARCHAR(255)",
    "order": "VARCHAR(50)",
    "date": "TIMESTAMP",
    "type_id": "VARCHAR(255)",
    "event_category": "VARCHAR(255)",
    "event_name": "VARCHAR(256)",
}


def quote_ident(name: str, dialect: str = "mysql") -> str:
    """Dialect identifier quoting — mandatory because the reference
    schema itself contains the reserved word ``order``
    (salesforce_extractor.py:70). MySQL backticks; everyone else
    ANSI double quotes."""
    if dialect == "mysql":
        return "`" + name.replace("`", "``") + "`"
    return '"' + name.replace('"', '""') + '"'


def quote_table(name: str, dialect: str = "mysql") -> str:
    """Quote a possibly schema-qualified table name: each dot-separated
    part is quoted SEPARATELY (``uat.lead_activity`` →
    ```uat`.`lead_activity```), because quoting the whole string as one
    identifier would yield a single table literally named
    "uat.lead_activity" — the exact shape ``db_config_from_env``'s
    MKT_CLOUD_SCHEMA produces. A part containing a literal dot can't be
    expressed; pass it pre-quoted or unqualified."""
    return ".".join(quote_ident(p, dialect) for p in name.split("."))


def _column_sql_type(
    f, key_cols: Sequence[str], column_types: dict[str, str] | None
) -> str:
    if column_types and f.name in column_types:
        return column_types[f.name]
    t = f.dataType.simpleString()
    sql_t = _SQL_TYPES.get(t)
    if sql_t is None:
        if t.startswith("decimal"):
            sql_t = t.upper()
        else:
            raise ValueError(f"no SQL mapping for column {f.name!r} type {t!r}")
    if f.name in key_cols and t == "string":
        sql_t = _KEY_STRING
    return sql_t


def create_table_sql(
    df: DataFrame,
    table: str,
    key_cols: Sequence[str],
    dialect: str = "mysql",
    column_types: dict[str, str] | None = None,
) -> str:
    """CREATE TABLE IF NOT EXISTS mirroring the reference's
    ensure-table DDL (:169-181): columns from the DataFrame schema, a
    unique constraint on the merge key (the duplicate-rejection
    backstop the reference relies on). ``column_types`` overrides the
    generic Spark-type mapping per column — pass
    ``LEAD_ACTIVITY_COLUMN_TYPES`` for the reference's exact widths.
    All identifiers are dialect-quoted (the lead-activity schema has a
    column named ``order``)."""
    q = lambda n: quote_ident(n, dialect)  # noqa: E731
    qt = lambda n: quote_table(n, dialect)  # noqa: E731
    cols = [
        f"{q(f.name)} {_column_sql_type(f, key_cols, column_types)}"
        for f in df.schema.fields
    ]
    uniq = ", ".join(q(k) for k in key_cols)
    return (
        f"CREATE TABLE IF NOT EXISTS {qt(table)} ("
        + ", ".join(cols)
        + f", UNIQUE ({uniq}))"
    )


def create_table_column_types(
    df: DataFrame, overrides: dict[str, str] | None = None
) -> str:
    """The value for Spark's JDBC ``createTableColumnTypes`` option:
    per-column SQL types (widths included) for every df column with an
    override, so a Spark-created target/staging table declares the same
    widths as the reference DDL instead of Spark's default TEXT/CLOB
    mapping. Only overridden columns are listed — Spark fills the rest
    from its own dialect mapping."""
    overrides = overrides or LEAD_ACTIVITY_COLUMN_TYPES
    parts = [f"{f.name} {overrides[f.name]}" for f in df.schema.fields if f.name in overrides]
    return ", ".join(parts)


def merge_sql(
    target: str,
    staging: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    dialect: str = "mysql",
    update_on_match: bool = False,
) -> str:
    """One set-based statement merging staging into target.

    ``update_on_match=False`` is the reference's exact semantics: the
    ON-DUPLICATE update is a deliberate no-op (:216 "No-op update to
    avoid duplicate insertion"), i.e. insert-ignore. ``True`` gives
    last-write-wins on the non-key columns.

    All identifiers are dialect-quoted — the reference schema includes
    a column named ``order`` (salesforce_extractor.py:70).
    """
    q = lambda n: quote_ident(n, dialect)  # noqa: E731
    qt = lambda n: quote_table(n, dialect)  # noqa: E731
    collist = ", ".join(q(c) for c in columns)
    non_key = [c for c in columns if c not in key_cols]
    if dialect == "mysql":
        if update_on_match and non_key:
            upd = ", ".join(f"{q(c)}=VALUES({q(c)})" for c in non_key)
        else:
            k = q(key_cols[0])
            upd = f"{k}={k}"  # the reference's no-op form
        return (
            f"INSERT INTO {qt(target)} ({collist}) SELECT {collist} FROM {qt(staging)} "
            f"ON DUPLICATE KEY UPDATE {upd}"
        )
    if dialect in ("postgres", "sqlite"):
        conflict = ", ".join(q(k) for k in key_cols)
        if update_on_match and non_key:
            upd = "DO UPDATE SET " + ", ".join(
                f"{q(c)}=excluded.{q(c)}" for c in non_key
            )
        else:
            upd = "DO NOTHING"
        return (
            f"INSERT INTO {qt(target)} ({collist}) SELECT {collist} FROM {qt(staging)} "
            f"WHERE true ON CONFLICT ({conflict}) {upd}"
        )
    if dialect == "ansi":
        on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in key_cols)
        ins = ", ".join(f"s.{q(c)}" for c in columns)
        stmt = f"MERGE INTO {qt(target)} t USING {qt(staging)} s ON {on}"
        if update_on_match and non_key:
            stmt += " WHEN MATCHED THEN UPDATE SET " + ", ".join(
                f"t.{q(c)} = s.{q(c)}" for c in non_key
            )
        stmt += f" WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({ins})"
        return stmt
    raise ValueError(f"unknown dialect {dialect!r}")


def _jvm_statement_runner(spark, url: str, properties: dict | None) -> Callable[[Sequence[str]], None]:
    """Default runner: execute statements over a driver-side JDBC
    connection via the JVM DriverManager (same classpath the executors'
    jdbc_write uses). Only the DDL/merge strings travel this path —
    never data."""

    def run(statements: Sequence[str]) -> None:
        jvm = spark._jvm
        props = jvm.java.util.Properties()
        for k, v in (properties or {}).items():
            props.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(url, props)
        try:
            # DriverManager connections start in autocommit, where an
            # explicit commit() is a JDBC-spec error (MySQL/Postgres
            # drivers throw). Run the DDL+merge as one transaction.
            conn.setAutoCommit(False)
            st = conn.createStatement()
            for s in statements:
                st.execute(s)
            conn.commit()
        finally:
            conn.close()

    return run


def merge_upsert(
    df: DataFrame,
    url: str,
    target_table: str,
    key_cols: Sequence[str] = ("hash",),
    dialect: str = "mysql",
    update_on_match: bool = False,
    staging_table: str | None = None,
    batchsize: int = 2500,
    properties: dict | None = None,
    stage_writer: Callable[[DataFrame, str], None] | None = None,
    statement_runner: Callable[[Sequence[str]], None] | None = None,
    column_types: dict[str, str] | None = None,
) -> dict:
    """Distributed staging write + one server-side merge (R12).

    Re-running the same batch is a no-op (the unique key rejects every
    row) — the pipeline's idempotence invariant, pinned by
    tests/test_operators.py::test_merge_upsert_idempotent.

    ``stage_writer``/``statement_runner`` default to the JDBC paths;
    tests inject DBAPI equivalents because the sandbox ships no JDBC
    driver jar.
    """
    staging = staging_table or f"{target_table}__stg"
    columns = df.columns
    if stage_writer is None:
        def stage_writer(batch: DataFrame, table: str) -> None:
            jdbc_write(batch, url, table, mode="overwrite", batchsize=batchsize,
                       properties=properties)
    if statement_runner is None:
        statement_runner = _jvm_statement_runner(df.sparkSession, url, properties)

    # in-batch duplicates collapse before the merge, mirroring the
    # reference's unique constraint catching cross-page repeats
    batch = df.dropDuplicates(list(key_cols))
    stage_writer(batch, staging)
    statement_runner(
        [
            create_table_sql(batch, target_table, key_cols, dialect, column_types),
            merge_sql(target_table, staging, columns, key_cols, dialect, update_on_match),
            f"DROP TABLE {quote_table(staging, dialect)}",
        ]
    )
    return {"staged_table": staging, "target_table": target_table}


def sqlite_standins(db_path: str) -> tuple:
    """(stage_writer, statement_runner) pair backed by a sqlite file —
    the sandbox stand-in for the production JDBC staging path (no JDBC
    driver jar here; the statement pipeline is identical). sqlite is a
    single-file target, so the stand-in can't take the production
    path's parallel executor connections — but it never materializes
    the batch on the driver in one piece either: the batch stages to
    parquet (distributed write), then streams into sqlite in bounded
    Arrow record batches, so peak driver memory is one 10k-row batch
    regardless of batch size. Used by q93 / q339."""
    import shutil
    import sqlite3

    from ..io import scratch_dir

    def stage_writer(batch: DataFrame, tbl: str) -> None:
        import pyarrow.dataset as ds

        stage_dir = scratch_dir("jdbc_stage")
        batch.write.mode("overwrite").parquet(stage_dir)
        con = sqlite3.connect(db_path)
        try:
            cols = batch.columns
            con.execute(f'DROP TABLE IF EXISTS "{tbl}"')
            quoted = ", ".join(f'"{c}"' for c in cols)
            con.execute(f'CREATE TABLE "{tbl}" ({quoted})')
            ins = f'INSERT INTO "{tbl}" VALUES ({",".join("?" * len(cols))})'
            for rb in ds.dataset(stage_dir, format="parquet").to_batches(
                batch_size=10_000, columns=cols
            ):
                con.executemany(
                    ins, zip(*(rb.column(c).to_pylist() for c in cols))
                )
            con.commit()
        finally:
            con.close()
            shutil.rmtree(stage_dir, ignore_errors=True)

    def statement_runner(stmts) -> None:
        con = sqlite3.connect(db_path)
        try:
            for s in stmts:
                con.execute(s)
            con.commit()
        finally:
            con.close()

    return stage_writer, statement_runner
