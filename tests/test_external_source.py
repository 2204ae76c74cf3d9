"""External DuckDB-backed Python DataSource: pushdown contract, SQL
compilation, per-file partitioning, and unsupported-filter fallback
(VERDICT r1 #8 / reference fetch_rows main.py:534-549)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    Not,
    StringStartsWith,
)
from pyspark.sql.types import StructType

from reverse_etl_homebrew_spark.sources.duckdb_source import (
    DuckDBParquetReader,
    external_table,
    filter_to_sql,
)

SF = "/root/testdata/sf0.001"


def _executed(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_sql_compilation():
    assert filter_to_sql(EqualTo(("k",), 5)) == '"k" = 5'
    assert filter_to_sql(GreaterThanOrEqual(("ts",), dt.datetime(1997, 6, 1))) == (
        "\"ts\" >= TIMESTAMP '1997-06-01 00:00:00.000000'"
    )
    assert filter_to_sql(EqualTo(("s",), "o'brien")) == "\"s\" = 'o''brien'"
    assert filter_to_sql(In(("k",), (1, 2))) == '"k" IN (1, 2)'
    assert filter_to_sql(IsNotNull(("k",))) == '"k" IS NOT NULL'
    assert filter_to_sql(StringStartsWith(("s",), "ab")) == "\"s\" LIKE 'ab%'"
    # unsupported: negation and nested columns stay Spark-side
    assert filter_to_sql(Not(EqualTo(("k",), 1))) is None
    assert filter_to_sql(EqualTo(("a", "b"), 1)) is None


def test_reader_accepts_and_rejects_filters(spark):
    schema = StructType.fromDDL("k int, s string")
    r = DuckDBParquetReader(schema, {"path": "/tmp/x.parquet"})
    residual = list(r.pushFilters([EqualTo(("k",), 1), Not(IsNotNull(("s",)))]))
    assert len(residual) == 1 and isinstance(residual[0], Not)
    assert r.pushed_sql == ['"k" = 1']
    assert r.remote_sql("/tmp/x.parquet") == (
        'SELECT "k", "s" FROM read_parquet(\'/tmp/x.parquet\') WHERE "k" = 1'
    )


def test_pushed_predicates_leave_no_spark_filter(spark):
    df = (
        external_table(spark, SF, "orders")
        .filter(F.col("o_orderdate") >= "1997-06-01")
        .filter(F.col("o_totalprice") > 100000)
        .select("o_orderkey", "o_totalprice")
    )
    plan = _executed(df)
    assert "BatchScan duckdb_parquet" in plan
    # "RuntimeFilters: []" always prints; a residual Filter NODE shows
    # as " Filter <expr>" in the executed plan
    assert " Filter " not in plan, "pushed predicates must not be re-evaluated"


def test_unsupported_predicate_stays_as_spark_filter(spark):
    df = external_table(spark, SF, "orders").filter(
        F.col("o_orderpriority").contains("URGENT")
    )
    plan = _executed(df)
    assert "BatchScan duckdb_parquet" in plan
    assert " Filter " in plan, "non-pushable predicate must remain post-scan"


def test_results_match_native_parquet_scan(spark):
    ext = (
        external_table(spark, SF, "orders")
        .filter(F.col("o_totalprice") > 200000)
        .select("o_orderkey", "o_custkey")
    )
    native = (
        spark.read.parquet(os.path.join(SF, "orders.parquet"))
        .filter(F.col("o_totalprice") > 200000)
        .select("o_orderkey", "o_custkey")
    )
    assert sorted(map(tuple, ext.collect())) == sorted(map(tuple, native.collect()))


def test_partition_per_file(spark, tmp_path):
    src = spark.range(100).withColumn("part", F.col("id") % 2)
    for p in (0, 1):
        src.filter(F.col("part") == p).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"f{p}")
        )
    import glob as g
    import shutil

    merged = tmp_path / "merged"
    merged.mkdir()
    for i, f in enumerate(sorted(g.glob(str(tmp_path / "f*" / "*.parquet")))):
        shutil.copy(f, merged / f"part-{i}.parquet")

    from reverse_etl_homebrew_spark.sources.duckdb_source import register

    register(spark)
    df = (
        spark.read.format("duckdb_parquet")
        .option("path", str(merged / "*.parquet"))
        .load()
    )
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 100


# --- column-projection pushdown (VERDICT r2 #2) -----------------------------

def test_columns_option_prunes_remote_select(spark):
    """The remote SQL must name ONLY the consumed columns — the 'columns'
    option is the projection-pushdown path the Python DS API lacks."""
    df = external_table(spark, SF, "customer", columns=["c_custkey", "c_name"])
    assert df.columns == ["c_custkey", "c_name"]
    plan = _executed(df)
    assert "BatchScan duckdb_parquet[c_custkey" in plan
    assert "c_acctbal" not in plan

    # and the compiled remote SQL itself is pruned
    from reverse_etl_homebrew_spark.sources.duckdb_source import (
        DuckDBParquetDataSource,
    )

    path = os.path.join(SF, "customer.parquet")
    ds = DuckDBParquetDataSource({"path": path, "columns": "c_custkey,c_name"})
    r = DuckDBParquetReader(ds.schema(), {"path": path})
    sql = r.remote_sql(path)
    assert '"c_custkey", "c_name"' in sql
    assert "c_acctbal" not in sql and "*" not in sql


def test_columns_option_values_match_native(spark):
    ext = external_table(
        spark, SF, "orders", columns=["o_orderkey", "o_totalprice"]
    ).filter(F.col("o_totalprice") > 200000)
    native = (
        spark.read.parquet(os.path.join(SF, "orders.parquet"))
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_totalprice") > 200000)
    )
    assert sorted(map(tuple, ext.collect())) == sorted(map(tuple, native.collect()))


def test_unknown_column_raises(spark):
    from reverse_etl_homebrew_spark.sources.duckdb_source import (
        DuckDBParquetDataSource,
    )

    ds = DuckDBParquetDataSource(
        {"path": os.path.join(SF, "customer.parquet"), "columns": "c_custkey,nope"}
    )
    with pytest.raises(ValueError, match="nope"):
        ds.schema()


# --- remote-SQL safety (ADVICE r2) ------------------------------------------

def test_tz_aware_datetime_not_pushed():
    """A tz-aware instant formatted as wall-clock encodes the wrong moment
    remotely and the pushed filter is gone Spark-side — must refuse."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    aware = dt.datetime(1997, 6, 1, tzinfo=dt.timezone.utc)
    assert filter_to_sql(GreaterThanOrEqual(("ts",), aware)) is None
    naive = dt.datetime(1997, 6, 1)
    assert filter_to_sql(GreaterThanOrEqual(("ts",), naive)) is not None


def test_path_with_quote_is_escaped(spark, tmp_path):
    qdir = tmp_path / "o'brien"
    qdir.mkdir()
    src = os.path.join(SF, "region.parquet")
    import shutil

    shutil.copy(src, qdir / "region.parquet")
    from reverse_etl_homebrew_spark.sources.duckdb_source import register

    register(spark)
    df = (
        spark.read.format("duckdb_parquet")
        .option("path", str(qdir / "region.parquet"))
        .load()
    )
    assert df.count() == 5


def test_empty_glob_raises_filenotfound(spark):
    from reverse_etl_homebrew_spark.sources.duckdb_source import (
        DuckDBParquetDataSource,
    )

    ds = DuckDBParquetDataSource({"path": "/tmp/does-not-exist-*.parquet"})
    with pytest.raises(FileNotFoundError):
        ds.schema()


def test_like_metachars_and_nonfinite_stay_spark_side(spark):
    """Prefixes containing LIKE metacharacters and non-finite float
    literals must NOT be pushed (they would change semantics / break
    the remote SQL) — they stay as Spark-side filters."""
    from pyspark.sql.datasource import GreaterThan

    assert filter_to_sql(StringStartsWith(("s",), "a_b")) is None
    assert filter_to_sql(StringStartsWith(("s",), "50%")) is None
    assert filter_to_sql(GreaterThan(("v",), float("nan"))) is None
    assert filter_to_sql(GreaterThan(("v",), float("inf"))) is None

    df = external_table(spark, SF, "customer").filter(
        F.col("c_name").startswith("Customer#0000001")
    )
    native = spark.read.parquet(os.path.join(SF, "customer.parquet")).filter(
        F.col("c_name").startswith("Customer#0000001")
    )
    assert df.count() == native.count() > 0
