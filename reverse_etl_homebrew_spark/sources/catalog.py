"""Table catalog over the driver's parquet testdata.

The reference reads sources with generated ``SELECT *`` strings and
materializes every row in driver memory (reference main.py:534-549).
Here a scan is a lazy ``spark.read.parquet`` — Catalyst prunes columns
and pushes predicates down to the parquet footers, and nothing is ever
collected to the driver.

Scale note: each table is one parquet file locally; at 100 TB the same
loader points at a partitioned directory (e.g. date-partitioned
``orders/o_orderdate=.../``) and partition pruning composes with the
same code path — the engine never assumes single-file sources.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import normalize_session

#: All driver-provided tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class SchemaContractError(ValueError):
    """A source column's type drifted across type families — refused
    at ingress, BEFORE it can buy a silent cross-engine divergence
    downstream (r12 schema-drift policy)."""


#: Canonical ingress types (r12 SCHEMA-DRIFT CONTRACT). The three
#: drift classes and their per-class policy, probed by
#: fixtures/schema_drift_probe.py and pinned in
#: tests/test_schema_drift.py:
#:
#: 1. PRESENCE drift (column dropped / alias-spelled twin): NOT this
#:    check's job. A missing column fails LOUDLY at the keys that
#:    read it (Spark unresolved-column ≡ DuckDB binder error — the
#:    two engines agree), is invisible to keys that don't (column
#:    pruning), and is TOLERATED via ``col_or_null`` coalesce chains
#:    at the reference-shaped sync-pipeline ingest (the
#:    row.get("Patient Name") or row.get("Patient_Name") semantics,
#:    reference main.py:645,736-737). Additive drift (extra columns)
#:    is always tolerated: pruning never reads them.
#: 2. SAME-FAMILY type drift (int32↔int64, float↔double↔decimal):
#:    TOLERATED as-is. Both engines read the same file and widen
#:    identically; no expression in the engine is family-sensitive.
#: 3. CROSS-FAMILY type drift (a key or measure widened to VARCHAR,
#:    a naive timestamp re-written tz-adjusted): REFUSED here, loud.
#:    Letting it through is the silent-split class: Spark sums a
#:    VARCHAR measure by silent double cast where DuckDB raises, and
#:    a tz-adjusted (ltz) timestamp makes results depend on session
#:    timezone. A drifted producer is a malformed export — reject the
#:    batch at ingress, not 4 joins later.
CANONICAL_TYPES: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint", "c_name": "string", "c_nationkey": "int",
        "c_acctbal": "double", "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint", "s_name": "string", "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint", "p_name": "string", "p_brand": "string",
        "p_type": "string", "p_size": "int", "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint", "o_custkey": "bigint",
        "o_orderstatus": "string", "o_totalprice": "double",
        "o_orderdate": "timestamp_ntz", "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint", "l_partkey": "bigint", "l_suppkey": "bigint",
        "l_linenumber": "int", "l_quantity": "double",
        "l_extendedprice": "double", "l_discount": "double",
        "l_tax": "double", "l_returnflag": "string",
        "l_linestatus": "string", "l_shipdate": "timestamp_ntz",
    },
    "events": {
        # post-conversion view: the ns→µs special case below runs
        # first, so both a nanos file (read as bigint) and a µs file
        # land here as timestamp_ntz
        "event_id": "bigint", "ts": "timestamp_ntz", "user_id": "bigint",
        "event_type": "string", "value": "double", "props": "string",
    },
    "documents": {
        "doc_id": "bigint", "text": "string", "lang": "string",
        "source": "string", "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint", "embedding": "array<float>", "label": "int",
    },
}

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}
_FRACTIONAL = {"float", "double"}


def _type_family(dt: str) -> str:
    if dt in _INTEGRAL:
        return "integral"
    if dt in _FRACTIONAL or dt.startswith("decimal"):
        return "fractional"
    if dt.startswith("array<"):
        inner = dt[len("array<"):-1]
        return f"array<{_type_family(inner)}>"
    # timestamp_ntz and date are distinct families on purpose, and
    # plain (session-tz-adjusted) timestamp is NOT grouped with
    # timestamp_ntz: an ltz column makes results session-dependent.
    return dt


def _enforce_contract(df: DataFrame, name: str) -> DataFrame:
    canon = CANONICAL_TYPES.get(name)
    if not canon:
        return df
    drifted = [
        (c, t, canon[c])
        for c, t in df.dtypes
        if c in canon and _type_family(t) != _type_family(canon[c])
    ]
    if drifted:
        detail = ", ".join(f"{c}: file={t} contract={e}" for c, t, e in drifted)
        raise SchemaContractError(
            f"table '{name}' violates the ingress type contract "
            f"(cross-family drift): {detail}. Same-family widening is "
            f"tolerated; cross-family drift must be fixed upstream — "
            f"see sources/catalog.CANONICAL_TYPES."
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one catalog table.

    ``events`` needs special handling: its ``ts`` column is parquet
    timestamp[ns], which Spark's vectorized reader rejects outright.
    With ``spark.sql.legacy.parquet.nanosAsLong`` the raw int64
    surfaces as LongType and is converted to a microsecond
    TIMESTAMP_NTZ here — identical truncation to what DuckDB performs
    on the same file, so oracle comparisons agree.
    """
    normalize_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns → µs truncation (values are post-1970, so floor == trunc),
        # then reinterpret as naive timestamp. timestamp_micros returns
        # TIMESTAMP; cast to NTZ via UTC so downstream semantics match
        # the other (NTZ) tables. Session tz is pinned UTC, so the cast
        # is instant-preserving.
        # integer `div`, not `/`: float division of int64 nanos loses
        # microsecond precision past 2^53
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    # driver-side metadata check only (no plan nodes, no scan): refuse
    # cross-family type drift at ingress — see CANONICAL_TYPES
    return _enforce_contract(df, name)

