"""External-warehouse connector with REAL filter pushdown.

The reference's only true source is a warehouse read that compiles its
incremental predicate INTO the remote SQL (fetch_rows, main.py:534-549:
``WHERE {updated_col} >= @watermark`` executed by BigQuery). This
module reproduces that contract against an external engine we can run
in-process — DuckDB — through Spark's Python DataSource API
(pyspark.sql.datasource, Spark 4): Catalyst offers predicates via
``pushFilters``; accepted ones are compiled into the remote WHERE
clause and removed from the Spark plan, so filtering happens at the
source, not post-scan.

Scale shape: one input partition per data file (a real deployment
splits further by row-group/byte-range); each partition opens its own
remote cursor and streams Arrow record batches — rows never
materialize driver-side (the reference's ``list(job.result())``
anti-pattern, main.py:544, is specifically what this avoids).
"""

from __future__ import annotations

import datetime as dt
import glob as _glob
import os
from typing import Iterator, List, Optional, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)
from pyspark.sql.types import StructType


def _sql_literal(v) -> Optional[str]:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        import math

        # nan/inf repr() as bare identifiers — invalid remote SQL
        return repr(v) if math.isfinite(v) else None
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            # A tz-aware instant formatted as wall-clock would encode the
            # wrong moment remotely, and the filter is REMOVED Spark-side
            # once pushed — no residual correction. Refuse the push.
            return None
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    return None


def _quote_ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _quote_path(path: str) -> str:
    """File path as a remote SQL string literal — same escaping as
    _sql_literal so a quote in the path can't break or inject SQL."""
    return "'" + path.replace("'", "''") + "'"


def _parse_columns_option(options) -> Optional[List[str]]:
    raw = options.get("columns")
    if raw is None:
        return None
    cols = [c.strip() for c in raw.split(",") if c.strip()]
    return cols or None


def filter_to_sql(f: Filter) -> Optional[str]:
    """Compile one Catalyst filter into remote SQL; None = cannot push
    (Spark keeps it post-scan — pushdown stays best-effort-correct)."""
    attr = getattr(f, "attribute", None)  # e.g. Not() wraps a child
    if attr is None or len(attr) != 1:  # nested columns stay Spark-side
        return None
    col = _quote_ident(attr[0])
    if isinstance(f, IsNotNull):
        return f"{col} IS NOT NULL"
    if isinstance(f, IsNull):
        return f"{col} IS NULL"
    if isinstance(f, In):
        lits = [_sql_literal(v) for v in f.value]
        if any(x is None for x in lits) or not lits:
            return None
        return f"{col} IN ({', '.join(lits)})"
    if isinstance(f, StringStartsWith):
        # LIKE metacharacters in the prefix would change semantics
        # ('a_b%' matches 'axb…') — leave such filters Spark-side
        if any(ch in f.value for ch in ("%", "_", "\\")):
            return None
        lit = _sql_literal(f.value + "%")
        return None if lit is None else f"{col} LIKE {lit}"
    ops = {
        EqualTo: "=",
        GreaterThan: ">",
        GreaterThanOrEqual: ">=",
        LessThan: "<",
        LessThanOrEqual: "<=",
    }
    op = ops.get(type(f))
    if op is None:
        return None
    lit = _sql_literal(f.value)
    return None if lit is None else f"{col} {op} {lit}"


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class DuckDBParquetReader(DataSourceReader):
    """Per-query reader: collects pushable predicates, then executes
    ``SELECT <cols> FROM read_parquet(file) WHERE <pushed>`` on the
    external engine per partition, yielding Arrow batches."""

    def __init__(self, schema: StructType, options):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("duckdb_parquet: 'path' option is required")
        self.pushed_sql: List[str] = []

    # -- pushdown ----------------------------------------------------------
    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        for f in filters:
            sql = filter_to_sql(f)
            if sql is None:
                yield f  # unsupported → Spark evaluates it post-scan
            else:
                self.pushed_sql.append(sql)

    def remote_sql(self, file_path: str) -> str:
        # The column list IS the projection pushdown: self.schema comes
        # from DuckDBParquetDataSource.schema(), which honors the
        # 'columns' option, so a pruned scan ships only consumed columns
        # over the wire (never the reference's `SELECT *`, main.py:537).
        cols = ", ".join(_quote_ident(f.name) for f in self.schema.fields) or "*"
        sql = f"SELECT {cols} FROM read_parquet({_quote_path(file_path)})"
        if self.pushed_sql:
            sql += " WHERE " + " AND ".join(self.pushed_sql)
        return sql

    # -- partitioning ------------------------------------------------------
    def partitions(self) -> Sequence[InputPartition]:
        files = sorted(_glob.glob(self.path)) if any(
            c in self.path for c in "*?["
        ) else [self.path]
        if not files:
            raise FileNotFoundError(self.path)
        return [_FilePartition(p) for p in files]

    # -- execution ---------------------------------------------------------
    def read(self, partition: _FilePartition):
        import duckdb

        con = duckdb.connect()
        try:
            reader = con.execute(self.remote_sql(partition.path)).fetch_record_batch()
            while True:
                try:
                    yield reader.read_next_batch()
                except StopIteration:
                    break
        finally:
            con.close()


class DuckDBParquetDataSource(DataSource):
    """``spark.read.format("duckdb_parquet").option("path", ...)`` —
    an external engine behind Spark's v2 pushdown contract."""

    @classmethod
    def name(cls) -> str:
        return "duckdb_parquet"

    def schema(self) -> StructType:
        import duckdb
        import pyarrow as pa  # noqa: F401
        from pyspark.sql.pandas.types import from_arrow_schema

        path = self.options.get("path")
        if not path:
            raise ValueError("duckdb_parquet: 'path' option is required")
        if any(c in path for c in "*?["):
            matches = sorted(_glob.glob(path))
            if not matches:
                raise FileNotFoundError(path)
            probe = matches[0]
        else:
            probe = path
        con = duckdb.connect()
        try:
            arrow_schema = con.execute(
                f"SELECT * FROM read_parquet({_quote_path(probe)}) LIMIT 0"
            ).fetch_arrow_table().schema
        finally:
            con.close()
        columns = _parse_columns_option(self.options)
        if columns is not None:
            available = set(arrow_schema.names)
            unknown = [c for c in columns if c not in available]
            if unknown:
                raise ValueError(
                    f"duckdb_parquet: unknown columns {unknown}; "
                    f"available: {sorted(available)}"
                )
            import pyarrow as _pa

            arrow_schema = _pa.schema([arrow_schema.field(c) for c in columns])
        return from_arrow_schema(arrow_schema, prefer_timestamp_ntz=True)

    def reader(self, schema: StructType) -> DuckDBParquetReader:
        return DuckDBParquetReader(schema, self.options)


def register(spark) -> None:
    """Idempotently register the source on a session."""
    try:
        spark.dataSource.register(DuckDBParquetDataSource)
    except Exception:
        pass  # already registered on this session


def external_table(spark, sf_dir: str, table: str, columns: Optional[Sequence[str]] = None):
    """Read an external table; pass ``columns`` to prune the remote scan.

    The Python DataSource API (Spark 4.1) has no column-pruning hook —
    Catalyst prunes its side of the plan but the reader would still ship
    every column over the wire. Threading the projection through the
    'columns' option closes that gap: the remote SELECT names only the
    consumed columns (never `SELECT *`, the reference's anti-pattern at
    main.py:537, 540)."""
    register(spark)
    r = spark.read.format("duckdb_parquet").option(
        "path", os.path.join(sf_dir, f"{table}.parquet")
    )
    if columns:
        r = r.option("columns", ",".join(columns))
    # the same ingress type contract every other source path enforces
    # (r12 schema-drift probe: this reader let a VARCHAR-widened key
    # column through as long as no expression touched it — drift
    # policy must be uniform across connectors, not per-path luck)
    from .catalog import _enforce_contract

    return _enforce_contract(r.load(), table)
