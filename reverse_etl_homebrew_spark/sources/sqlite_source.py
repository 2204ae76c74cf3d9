"""Second external connector: SQLite over the same Python DataSource
contract as the DuckDB source — proof the pushdown/partitioning
pattern generalizes across remote engines, using only the stdlib
``sqlite3`` driver.

What it adds beyond ``duckdb_source``: the DuckDB connector
parallelizes per FILE; SQLite exposes one table in one file, so this
reader implements the classic JDBC-style RANGE partitioning instead —
``numPartitions`` rowid ranges computed from the remote min/max at
plan time, each partition reading ``WHERE <pushed> AND rowid BETWEEN
lo AND hi`` on its own connection. That is exactly how a 1000-executor
job reads any single large warehouse table (partitionColumn /
lowerBound / upperBound), expressed through the same DataSource API.

Filter pushdown reuses ``duckdb_source.filter_to_sql`` with one
SQLite-specific narrowing: date/timestamp literals are refused
(SQLite has no temporal literal syntax — ``TIMESTAMP '...'`` is a
syntax error there), so temporal predicates stay Spark-side rather
than failing remotely. Pushdown remains best-effort-correct by
construction: anything not compiled is still evaluated by Spark.

Read-only by design, like the DuckDB source: SQLite is a
single-writer engine, so N parallel Spark write tasks would serialize
on the database lock (or corrupt a WAL-less file on NFS). Both sources
model the reference's warehouse-READ contract (main.py:534-549); the
engine's writes go through its sinks (sinks/).
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator, List, Optional, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    Filter,
    In,
    InputPartition,
)
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyspark.sql.datasource import StringStartsWith

from .duckdb_source import (
    _parse_columns_option,
    _quote_ident,
    _sql_literal,
    filter_to_sql,
)


def _sqlite_filter_to_sql(f: Filter) -> Optional[str]:
    """filter_to_sql with two SQLite-specific narrowings: temporal
    literals are refused (no such syntax in SQLite), and
    StringStartsWith compiles to ``substr(col, 1, N) = 'prefix'``
    instead of ``LIKE 'prefix%'`` — SQLite's LIKE is
    case-INSENSITIVE for ASCII by default, so the LIKE form would
    silently return extra rows ('Name%' also matching 'name-…') that
    Spark never re-checks once the filter is pushed. substr comparison
    is case-sensitive (BINARY collation), matching Spark's
    ``startswith`` exactly."""
    values = []
    if isinstance(f, In):
        values = list(f.value)
    elif hasattr(f, "value"):
        values = [f.value]
    if any(isinstance(v, (dt.datetime, dt.date)) for v in values):
        return None
    if isinstance(f, StringStartsWith):
        attr = f.attribute
        if len(attr) != 1:
            return None
        lit = _sql_literal(f.value)
        if lit is None:
            return None
        # len() counts characters; SQLite substr on TEXT is also
        # character-based, matching Spark startswith semantics
        return f"substr({_quote_ident(attr[0])}, 1, {len(f.value)}) = {lit}"
    return filter_to_sql(f)


def _affinity_to_spark(decl: str):
    """SQLite declared-type affinity → Spark type (the declared
    affinity is the schema contract; SQLite's per-cell dynamic typing
    is out of scope, as it is for every SQL reader)."""
    d = (decl or "").upper()
    if "INT" in d:
        return LongType()
    if any(k in d for k in ("REAL", "FLOA", "DOUB", "NUMERIC", "DEC")):
        return DoubleType()
    if "BLOB" in d or d == "":
        return BinaryType()
    return StringType()  # TEXT / CHAR / CLOB / VARCHAR


class _RangePartition(InputPartition):
    def __init__(self, lo: Optional[int], hi: Optional[int]):
        self.lo = lo
        self.hi = hi


class SQLiteTableReader(DataSourceReader):
    """Range-partitioned reader: one rowid slice per partition, pushed
    predicates compiled into every slice's WHERE."""

    _BATCH = 10_000

    def __init__(self, schema: StructType, options):
        self.schema = schema
        self.db = options.get("path")
        self.table = options.get("table")
        if not self.db or not self.table:
            raise ValueError("sqlite_table: 'path' and 'table' options are required")
        self.part_col = options.get("partitioncolumn", "rowid")
        self.num_parts = int(options.get("numpartitions", "4"))
        self.pushed_sql: List[str] = []

    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        for f in filters:
            sql = _sqlite_filter_to_sql(f)
            if sql is None:
                yield f
            else:
                self.pushed_sql.append(sql)

    def partitions(self) -> Sequence[InputPartition]:
        import sqlite3

        con = sqlite3.connect(self.db)
        try:
            lo, hi = con.execute(
                f"SELECT MIN({_quote_ident(self.part_col)}),"
                f" MAX({_quote_ident(self.part_col)})"
                f" FROM {_quote_ident(self.table)}"
            ).fetchone()
        finally:
            con.close()
        if lo is None or hi is None:
            # MIN/MAX unknown (empty table, or every value NULL): one
            # whole-table slice with no range predicate — reads
            # whatever exists at read time, NULLs included
            return [_RangePartition(None, None)]
        n = max(1, min(self.num_parts, hi - lo + 1))
        step = (hi - lo + 1 + n - 1) // n
        parts = [
            _RangePartition(lo + i * step, min(hi, lo + (i + 1) * step - 1))
            for i in range(n)
            if lo + i * step <= hi
        ]
        # JDBC partitionColumn semantics: the first and last slices are
        # UNBOUNDED (and the first NULL-inclusive), so rows whose
        # partition-column value is NULL, or that land outside the
        # [min, max] observed at plan time (inserted between planning
        # and read), are never silently dropped.
        parts[0].lo = None
        parts[-1].hi = None
        return parts

    def _remote_sql(self, p: _RangePartition) -> str:
        cols = ", ".join(_quote_ident(f.name) for f in self.schema.fields)
        sql = f"SELECT {cols} FROM {_quote_ident(self.table)}"
        where = list(self.pushed_sql)
        pc = _quote_ident(self.part_col)
        if p.lo is not None and p.hi is not None:
            where.append(f"{pc} BETWEEN {p.lo} AND {p.hi}")
        elif p.lo is None and p.hi is not None:
            # first slice: unbounded below AND NULL-inclusive
            where.append(f"({pc} <= {p.hi} OR {pc} IS NULL)")
        elif p.lo is not None and p.hi is None:
            # last slice: unbounded above
            where.append(f"{pc} >= {p.lo}")
        # lo and hi both None: whole-table slice, no range predicate
        if where:
            sql += " WHERE " + " AND ".join(where)
        return sql

    def read(self, partition: _RangePartition):
        import sqlite3

        con = sqlite3.connect(self.db)
        try:
            cur = con.execute(self._remote_sql(partition))
            while True:
                rows = cur.fetchmany(self._BATCH)
                if not rows:
                    break
                for row in rows:
                    yield row
        finally:
            con.close()


class SQLiteTableDataSource(DataSource):
    """``spark.read.format("sqlite_table").option("path", db)
    .option("table", t)`` with JDBC-style range partitioning and
    best-effort pushdown."""

    @classmethod
    def name(cls) -> str:
        return "sqlite_table"

    def schema(self) -> StructType:
        import sqlite3

        db = self.options.get("path")
        table = self.options.get("table")
        if not db or not table:
            raise ValueError("sqlite_table: 'path' and 'table' options are required")
        con = sqlite3.connect(db)
        try:
            info = con.execute(
                f"PRAGMA table_info({_quote_ident(table)})"
            ).fetchall()
        finally:
            con.close()
        if not info:
            raise ValueError(f"sqlite_table: no such table {table!r} in {db}")
        by_name = {row[1]: _affinity_to_spark(row[2]) for row in info}
        want = _parse_columns_option(self.options) or [row[1] for row in info]
        missing = [c for c in want if c not in by_name]
        if missing:
            raise ValueError(f"sqlite_table: unknown columns {missing}")
        return StructType(
            [StructField(c, by_name[c], True) for c in want]
        )

    def reader(self, schema: StructType) -> SQLiteTableReader:
        return SQLiteTableReader(schema, self.options)


def register(spark) -> None:
    """Idempotently register the source on a session."""
    try:
        spark.dataSource.register(SQLiteTableDataSource)
    except Exception:
        pass


def _arrow_to_decl(t) -> str:
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "INTEGER"
    if pa.types.is_floating(t):
        return "REAL"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "TEXT"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "BLOB"
    raise ValueError(f"sqlite staging: unsupported arrow type {t}")


def _apply_ingress_contract(tbl, table: str, columns: Sequence[str]):
    """The staging twin of sources/catalog._enforce_contract (r12
    schema-drift probe): this path reads RAW parquet via pyarrow,
    bypassing load_table, and the probe caught both halves of what
    that buys — a VARCHAR-widened measure staged silently into SQLite
    (whose TEXT > REAL comparison rules then answer WRONG while the
    DuckDB oracle raises: the exact silent-split class), and a
    same-family decimal(12,2) widening crashing the staging on an
    unsupported arrow type. Policy here is identical to ingress:
    cross-family drift raises SchemaContractError; same-family drift
    is tolerated by CASTING to the canonical arrow type before
    staging (lossless for this family algebra: int widenings and
    ≤15-significant-digit decimals→double)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .catalog import CANONICAL_TYPES, SchemaContractError, _type_family

    _SPARK_TO_ARROW = {
        "tinyint": pa.int8(), "smallint": pa.int16(), "int": pa.int32(),
        "bigint": pa.int64(), "float": pa.float32(), "double": pa.float64(),
        "string": pa.string(),
    }

    def family(t) -> str:
        if pa.types.is_integer(t):
            return "integral"
        if pa.types.is_floating(t) or pa.types.is_decimal(t):
            return "fractional"
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return "string"
        if pa.types.is_timestamp(t):
            return "timestamp_ntz" if t.tz is None else "timestamp"
        return str(t)

    # contract-side families come from the ONE taxonomy
    # (catalog._type_family) — the r12 review caught a local copy that
    # a future family-policy change would silently leave behind
    spark_family = _type_family

    canon = CANONICAL_TYPES.get(table, {})
    for name in columns:
        if name not in canon:
            continue
        actual = tbl.schema.field(name).type
        want = canon[name]
        if family(actual) != spark_family(want):
            raise SchemaContractError(
                f"sqlite staging: table '{table}' column '{name}' drifted "
                f"across type families (file={actual}, contract={want})"
            )
        target = _SPARK_TO_ARROW.get(want)
        if target is not None and actual != target:
            idx = tbl.schema.get_field_index(name)
            col = tbl.column(name)
            if pa.types.is_decimal(actual) and pa.types.is_floating(target):
                # arrow's direct decimal->double multiplies the scaled
                # int by 10^-scale (0.01 is inexact: 1532.36 became
                # 1532.3600000000001); the decimal-STRING parse is the
                # correctly-rounded conversion every other reader uses
                col = pc.cast(col, pa.string())
            tbl = tbl.set_column(idx, name, pc.cast(col, target))
    return tbl


def stage_parquet_as_sqlite(sf_dir: str, table: str, columns: Sequence[str]) -> str:
    """Materialize one parquet table as a SQLite database file and
    return its path — the fixture step that lets the driver-facing
    `sqlite-scan-pushdown` key exercise the range-partitioned reader
    against data whose ground truth the DuckDB oracle can see (both
    engines read the exact same rows; floats round-trip bit-exactly
    through SQLite REAL = IEEE double).

    Cached under the system temp dir keyed by (path, mtime, size), so
    repeated bench/driver invocations reuse the staged file; the build
    is atomic (write to .tmp, rename) so concurrent stagings can't
    expose a half-built database."""
    import hashlib
    import os
    import sqlite3
    import tempfile

    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(src)
    key = hashlib.sha256(
        f"{os.path.abspath(src)}|{st.st_mtime_ns}|{st.st_size}|{','.join(columns)}".encode()
    ).hexdigest()[:16]
    cache_dir = os.path.join(tempfile.gettempdir(), "reverse_etl_sqlite_stage")
    os.makedirs(cache_dir, exist_ok=True)
    db_path = os.path.join(cache_dir, f"{table}-{key}.db")
    if os.path.exists(db_path):
        return db_path
    tbl = pq.read_table(src, columns=list(columns))
    tbl = _apply_ingress_contract(tbl, table, columns)
    decls = ", ".join(
        f"{_quote_ident(name)} {_arrow_to_decl(tbl.schema.field(name).type)}"
        for name in columns
    )
    tmp = db_path + f".tmp.{os.getpid()}"
    con = sqlite3.connect(tmp)
    try:
        con.execute(f"CREATE TABLE {_quote_ident(table)} ({decls})")
        placeholders = ", ".join("?" for _ in columns)
        rows = zip(*(tbl.column(c).to_pylist() for c in columns))
        con.executemany(
            f"INSERT INTO {_quote_ident(table)} VALUES ({placeholders})", rows
        )
        con.commit()
    finally:
        con.close()
    os.replace(tmp, db_path)
    return db_path


def sqlite_table_from_parquet(
    spark,
    sf_dir: str,
    table: str,
    columns: Sequence[str],
    numpartitions: int = 4,
):
    """Stage a testdata parquet table into SQLite, then read it back
    through the range-partitioned pushdown reader — the end-to-end
    path the external driver checks."""
    db = stage_parquet_as_sqlite(sf_dir, table, columns)
    register(spark)
    return (
        spark.read.format("sqlite_table")
        .option("path", db)
        .option("table", table)
        .option("columns", ",".join(columns))
        .option("numpartitions", str(numpartitions))
        .load()
    )
