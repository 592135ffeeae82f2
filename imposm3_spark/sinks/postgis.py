"""PostGIS sink (SURVEY §2.1 S7-S12).

Parity targets:
  S10 DDL          database/postgis/spec.go:44-84, postgis.go:39-87
  S7  bulk load    database/postgis/tx.go:20-114 (TRUNCATE + COPY)
  S8  sync upsert  tx.go:116-199 (DELETE+INSERT in one tx, diff mode)
  S11 finishers    postgis.go:164-234 (GIST/BTREE), 365-432 (CLUSTER/ANALYSE)
  S12 rotation     database/postgis/rotate.go:9-131 (import->production->backup)

Spark shape: DDL/finisher/rotation are SQL strings executed over a plain DB
connection (driver-side, once per table). The data path is distributed:
`write_bulk` runs COPY FROM STDIN per partition via foreachPartition —
every executor streams its partition straight into PostgreSQL, which is the
exact analog of the reference's per-table COPY goroutines but N-way
parallel.

Transports: psycopg2 when installed, else the stock `psql` client driven
over stdin (same SQL strings, same COPY text payload — `copy_payload` is
shared, so the wire bytes are identical). `use_postgis=False` renders
geometry columns as BYTEA (EWKB payload as-is) for plain-PostgreSQL
deployments, which is also what the live integration test
(tests/test_postgis_live.py) runs against.
"""

from __future__ import annotations

import io
import subprocess
from collections.abc import Iterable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame

from imposm3_spark.mapping.columns import SPARK_TYPE_BY_COLUMN_TYPE
from imposm3_spark.mapping.config import Mapping, Table

try:  # pragma: no cover - psycopg2 not in the test image
    import psycopg2  # type: ignore

    HAVE_PSYCOPG2 = True
except ImportError:
    psycopg2 = None
    HAVE_PSYCOPG2 = False


# Go type -> PostgreSQL DDL type (database/postgis/columns.go:69-79)
PG_TYPE_BY_COLUMN_TYPE: dict[str, str] = {
    "bool": "BOOL",
    "boolint": "SMALLINT",
    "id": "BIGINT",
    "string": "VARCHAR",
    "direction": "SMALLINT",
    "integer": "INT",
    "mapping_key": "VARCHAR",
    "mapping_value": "VARCHAR",
    "member_id": "BIGINT",
    "member_role": "VARCHAR",
    "member_type": "SMALLINT",
    "member_index": "INT",
    "geometry": "GEOMETRY",
    "validated_geometry": "GEOMETRY",
    "hstore_tags": "HSTORE",
    "wayzorder": "INT",
    "pseudoarea": "REAL",
    "area": "REAL",
    "webmerc_area": "REAL",
    "zorder": "INT",
    "enumerate": "INT",
    "string_suffixreplace": "VARCHAR",
    "categorize_int": "INT",
    "geojson_intersects": "BOOL",
    "geojson_intersects_feature": "VARCHAR",
}

GEOMETRY_TYPE_BY_TABLE_TYPE = {
    "point": "POINT",
    "linestring": "LINESTRING",
    "polygon": "GEOMETRY",  # polygon tables store Polygon OR MultiPolygon
    "geometry": "GEOMETRY",
    "relation": "GEOMETRY",
    "relation_member": "GEOMETRY",
}


@dataclass
class PostGISConfig:
    schema_import: str = "import"
    schema_production: str = "public"
    schema_backup: str = "backup"
    prefix: str = "osm_"
    srid: int = 3857
    # False targets plain PostgreSQL: geometry columns become BYTEA
    # (carrying the engine's EWKB bytes verbatim) instead of
    # AddGeometryColumn, and GIST/CLUSTER finishers are skipped
    use_postgis: bool = True


def table_ddl(table: Table, cfg: PostGISConfig) -> list[str]:
    """CREATE TABLE + AddGeometryColumn statements (spec.go:44-84,
    postgis.go:61-87). Geometry columns are added via AddGeometryColumn,
    like the reference."""
    full = f'"{cfg.schema_import}"."{cfg.prefix}{table.name}"'
    cols = ['"id" SERIAL PRIMARY KEY']
    geom_cols = []
    for col in table.columns:
        pg_type = PG_TYPE_BY_COLUMN_TYPE.get(col.type)
        if pg_type is None:
            raise ValueError(f"unknown column type {col.type}")
        if pg_type == "GEOMETRY":
            if cfg.use_postgis:
                geom_cols.append(col.name)
            else:
                cols.append(f'"{col.name}" BYTEA')
            continue
        cols.append(f'"{col.name}" {pg_type}')
    stmts = [
        f"DROP TABLE IF EXISTS {full} CASCADE",
        f"CREATE TABLE {full} (\n    " + ",\n    ".join(cols) + "\n)",
    ]
    geom_type = GEOMETRY_TYPE_BY_TABLE_TYPE[table.type]
    for name in geom_cols:
        stmts.append(
            "SELECT AddGeometryColumn('{schema}', '{table}', '{col}', {srid}, '{gtype}', 2)".format(
                schema=cfg.schema_import,
                table=f"{cfg.prefix}{table.name}",
                col=name,
                srid=cfg.srid,
                gtype=geom_type,
            )
        )
    return stmts


def finish_ddl(table: Table, cfg: PostGISConfig) -> list[str]:
    """Deferred index build (postgis.go:164-234): BTREE on osm_id, GIST on
    every geometry column; then CLUSTER-on-geohash + ANALYSE (365-432)."""
    name = f"{cfg.prefix}{table.name}"
    full = f'"{cfg.schema_import}"."{name}"'
    stmts = []
    if any(c.type == "id" for c in table.columns):
        id_col = next(c.name for c in table.columns if c.type == "id")
        stmts.append(
            f'CREATE INDEX "{name}_{id_col}_idx" ON {full} USING BTREE ("{id_col}")'
        )
    for col in table.columns:
        if PG_TYPE_BY_COLUMN_TYPE.get(col.type) == "GEOMETRY" and cfg.use_postgis:
            stmts.append(
                f'CREATE INDEX "{name}_geom" ON {full} USING GIST ("{col.name}")'
            )
            stmts.append(
                f'CLUSTER "{name}_geom" ON {full}'
            )
    stmts.append(f"ANALYSE {full}")
    return stmts


def rotate_ddl(mapping: Mapping, cfg: PostGISConfig) -> list[str]:
    """Blue/green deploy (rotate.go:9-131): import -> production, previous
    production -> backup, via ALTER TABLE ... SET SCHEMA."""
    stmts = [
        f'CREATE SCHEMA IF NOT EXISTS "{cfg.schema_production}"',
        f'CREATE SCHEMA IF NOT EXISTS "{cfg.schema_backup}"',
    ]
    names = list(mapping.tables) + list(mapping.generalized_tables)
    for t in names:
        name = f"{cfg.prefix}{t}"
        stmts += [
            f'DROP TABLE IF EXISTS "{cfg.schema_backup}"."{name}" CASCADE',
            (
                f'ALTER TABLE IF EXISTS "{cfg.schema_production}"."{name}" '
                f'SET SCHEMA "{cfg.schema_backup}"'
            ),
            f'ALTER TABLE "{cfg.schema_import}"."{name}" SET SCHEMA "{cfg.schema_production}"',
        ]
    return stmts


# ---------------------------------------------------------------------------
# data writers
# ---------------------------------------------------------------------------


def _copy_escape(v) -> str:
    if v is None:
        return r"\N"
    if isinstance(v, (bytes, bytearray)):
        return "\\\\x" + bytes(v).hex()
    if isinstance(v, bool):
        return "t" if v else "f"
    s = str(v)
    return (
        s.replace("\\", "\\\\")
        .replace("\t", "\\t")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )


def copy_payload(rows: Iterable) -> Iterable[str]:
    """COPY text-format lines for an iterable of row tuples — the single
    source of truth for the wire bytes, shared by the psycopg2 and psql
    transports (and by payload unit tests)."""
    for row in rows:
        yield "\t".join(_copy_escape(v) for v in row) + "\n"


# ---------------------------------------------------------------------------
# psql transport: drives the stock `psql` client over stdin. Used when
# psycopg2 isn't installed; identical SQL strings and COPY payloads.
# ---------------------------------------------------------------------------


def _psql(dsn: str, script: str) -> str:
    """Run a SQL script through psql (ON_ERROR_STOP, autocommit semantics
    identical to a single session feeding stdin). Returns stdout."""
    proc = subprocess.run(
        ["psql", dsn, "-X", "-q", "-v", "ON_ERROR_STOP=1", "-f", "-"],
        input=script.encode(),
        capture_output=True,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"psql failed: {proc.stderr.decode(errors='replace')}")
    return proc.stdout.decode()


def psql_execute(dsn: str, stmts: list[str]) -> None:
    _psql(dsn, ";\n".join(stmts) + ";\n")


def psql_copy(dsn: str, copy_sql: str, payload_lines: Iterable[str]) -> None:
    """COPY FROM STDIN via psql: the script embeds the payload followed by
    the end-of-data marker (the same frame pg_dump emits)."""
    body = "".join(payload_lines)
    _psql(dsn, f"{copy_sql};\n{body}\\.\n")


def psql_copy_stream(dsn: str, copy_sql: str, payload_lines: Iterable[str]) -> None:
    """COPY an arbitrarily large payload through ONE psql process inside ONE
    transaction: BEGIN / COPY FROM STDIN (stdin fed incrementally, bounded
    memory) / COMMIT. Task-retry safe: a partition that fails mid-stream
    rolls back atomically, so Spark re-running the task cannot leave
    duplicated rows — unlike per-chunk psql invocations, which each commit
    (the psycopg2 path already commits once per partition; this matches it)."""
    proc = subprocess.Popen(
        ["psql", dsn, "-X", "-q", "-v", "ON_ERROR_STOP=1", "-f", "-"],
        stdin=subprocess.PIPE,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE,
    )
    try:
        try:
            proc.stdin.write(f"BEGIN;\n{copy_sql};\n".encode())
            buf: list[bytes] = []
            size = 0
            for line in payload_lines:
                b = line.encode()
                buf.append(b)
                size += len(b)
                if size >= 4 * 1024 * 1024:
                    proc.stdin.write(b"".join(buf))
                    buf, size = [], 0
            buf.append(b"\\.\nCOMMIT;\n")
            proc.stdin.write(b"".join(buf))
            proc.stdin.close()
        except BrokenPipeError:
            pass  # psql died mid-stream; its stderr is surfaced below
        stderr = proc.stderr.read()
        if proc.wait() != 0:
            raise RuntimeError(f"psql failed: {stderr.decode(errors='replace')}")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def psql_query(dsn: str, sql: str) -> list[list[str]]:
    """Tab-separated unaligned query output (test/verification helper)."""
    out = subprocess.run(
        ["psql", dsn, "-X", "-q", "-v", "ON_ERROR_STOP=1", "-A", "-t", "-F", "\t", "-c", sql],
        capture_output=True,
    )
    if out.returncode != 0:
        raise RuntimeError(f"psql failed: {out.stderr.decode(errors='replace')}")
    return [line.split("\t") for line in out.stdout.decode().splitlines()]


def write_bulk(
    df: DataFrame, table: Table, cfg: PostGISConfig, dsn: str, transport: str = "auto"
) -> None:
    """S7: TRUNCATE + COPY FROM STDIN, one COPY stream per partition.

    The reference runs one COPY goroutine per table (tx.go:20-114); here
    every Spark partition COPYes concurrently — same wire protocol, N-way.
    ``transport``: 'psycopg2', 'psql', or 'auto' (psycopg2 when installed).
    """
    if transport == "auto":
        transport = "psycopg2" if HAVE_PSYCOPG2 else "psql"
    if transport == "psycopg2" and not HAVE_PSYCOPG2:
        raise RuntimeError("psycopg2 not available — use transport='psql' or parquet sink")
    full = f'"{cfg.schema_import}"."{cfg.prefix}{table.name}"'
    columns = ", ".join(f'"{c.name}"' for c in table.columns)
    copy_sql = f"COPY {full} ({columns}) FROM STDIN"

    if transport == "psql":
        psql_execute(dsn, [f"TRUNCATE {full} RESTART IDENTITY"])

        def copy_partition(rows) -> None:
            psql_copy_stream(dsn, copy_sql, copy_payload(rows))

        df.foreachPartition(copy_partition)
        return

    with psycopg2.connect(dsn) as conn:
        with conn.cursor() as cur:
            cur.execute(f"TRUNCATE {full} RESTART IDENTITY")
        conn.commit()

    def copy_partition_pg(rows) -> None:
        conn = psycopg2.connect(dsn)
        try:
            buf = io.StringIO()
            for line in copy_payload(rows):
                buf.write(line)
                if buf.tell() > 8 * 1024 * 1024:
                    buf.seek(0)
                    with conn.cursor() as cur:
                        cur.copy_expert(copy_sql, buf)
                    buf = io.StringIO()
            buf.seek(0)
            if buf.getvalue():
                with conn.cursor() as cur:
                    cur.copy_expert(copy_sql, buf)
            conn.commit()
        finally:
            conn.close()

    df.foreachPartition(copy_partition_pg)


def execute_ddl(stmt: str, dsn: str) -> None:
    """Run one DDL statement (index build / schema rotation steps)."""
    if not HAVE_PSYCOPG2:
        psql_execute(dsn, [stmt])
        return
    with psycopg2.connect(dsn) as conn:
        with conn.cursor() as cur:
            cur.execute(stmt)
        conn.commit()


def write_sync_batch(
    deleted_osm_ids: list[int], rows: list[tuple], table: Table, cfg: PostGISConfig, dsn: str
) -> None:
    """S8: diff-mode DELETE + INSERT inside one transaction (tx.go:116-199).
    Driver-side per batch — batches are small (one replication interval).

    Without psycopg2 the same frame runs through psql as one stdin script:
    BEGIN; DELETE ...; COPY ... FROM STDIN (payload); COMMIT — COPY is used
    instead of INSERT literals so value escaping stays the shared
    `copy_payload` path."""
    full = f'"{cfg.schema_import}"."{cfg.prefix}{table.name}"'
    id_col = next((c.name for c in table.columns if c.type == "id"), None)
    columns = ", ".join(f'"{c.name}"' for c in table.columns)
    if not HAVE_PSYCOPG2:
        script = "BEGIN;\n"
        if id_col and deleted_osm_ids:
            ids = ", ".join(str(int(i)) for i in deleted_osm_ids)
            script += f'DELETE FROM {full} WHERE "{id_col}" IN ({ids});\n'
        if rows:
            script += f"COPY {full} ({columns}) FROM STDIN;\n"
            script += "".join(copy_payload(rows))
            script += "\\.\n"
        script += "COMMIT;\n"
        _psql(dsn, script)
        return
    placeholders = ", ".join(["%s"] * len(table.columns))
    conn = psycopg2.connect(dsn)
    try:
        with conn.cursor() as cur:
            if id_col and deleted_osm_ids:
                cur.execute(
                    f'DELETE FROM {full} WHERE "{id_col}" = ANY(%s)', (deleted_osm_ids,)
                )
            if rows:
                cur.executemany(
                    f"INSERT INTO {full} ({columns}) VALUES ({placeholders})", rows
                )
        conn.commit()
    finally:
        conn.close()


def write_jdbc(df: DataFrame, table: Table, cfg: PostGISConfig, jdbc_url: str,
               properties: dict | None = None) -> None:
    """JDBC fallback writer (no psycopg2 needed; geometry as bytea WKB —
    cast to geometry server-side afterwards)."""
    df.write.mode("append").jdbc(
        jdbc_url, f"{cfg.schema_import}.{cfg.prefix}{table.name}", properties=properties or {}
    )


# concurrent parquet table writes; each is one Spark job, so a handful is
# enough to keep the scheduler busy without one thread per table
_MAX_CONCURRENT_WRITES = 8


def write_parquet(tables: dict[str, DataFrame], path: str, mode: str = "overwrite") -> None:
    """Parquet sink for offline pipelines: one directory per output table.

    The per-table writes are independent jobs, each too small to fill the
    cluster on its own, so they are submitted concurrently. Every write
    runs to its end; then the first failure in table order is raised.
    """
    if not tables:
        return
    with ThreadPoolExecutor(max_workers=min(len(tables), _MAX_CONCURRENT_WRITES)) as pool:
        futures = [
            pool.submit(df.write.mode(mode).parquet, f"{path}/{name}")
            for name, df in tables.items()
        ]
    # leaving the pool waited for every write
    for f in futures:
        f.result()
