"""Scalar transform library — every per-row transform of the reference,
compiled to native Column expressions (JVM-side, whole-stage codegen;
zero Python UDFs).

Reference provenance (all cites into /root/reference/main.py):
- ``bool_normalize``       ← to_hubspot_bool, main.py:114-132
- ``epoch_millis*``        ← to_epoch_millis, main.py:134-158
- ``eastern_date``         ← to_eastern_date_string, main.py:160-180
- ``next_birthday``        ← compute_next_birthday, main.py:182-203
- ``identifier_canon``     ← format_identifier, main.py:205-221
- ``phi_redact``           ← hash8, main.py:93-97 (redaction main.py:80-91)
- ``email_normalize``      ← inline email cleanup, main.py:573
- ``json_payload``         ← DLQ payload serialization, main.py:398
- ``truncate``             ← payload/error clamps, main.py:398-399
- ``blank_to_null``        ← prop dropping of None/"" values, main.py:610,656
- ``col_or_null``          ← schema-drift row.get chains, main.py:645,736-737

Timezone policy: the reference has three deliberately different
conversion policies (SURVEY.md §7): ``clean_value`` treats naive
timestamps as UTC (main.py:109), ``to_epoch_millis`` treats naive as
America/New_York (main.py:154-155), ``to_eastern_date_string``
likewise (main.py:164). Both policies are exposed here; callers pick.
"""

from __future__ import annotations

from typing import Sequence, Union

from pyspark.sql import Column, DataFrame, functions as F

ColumnOrName = Union[Column, str]

EASTERN = "America/New_York"

#: Truthy / falsy token sets, main.py:127-130.
_TRUE_TOKENS = ("true", "1", "y", "yes", "t")
_FALSE_TOKENS = ("false", "0", "n", "no", "f")


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# schema drift / coalescing
# ---------------------------------------------------------------------------

def col_or_null(df: DataFrame, *names: str, null_type: str = "string") -> Column:
    """First existing-and-non-null column among ``names``; NULL if none
    exists. Reproduces the reference's tolerant ``row.get(a) or
    row.get(b)`` access (main.py:645, 736-737) inside a schema-checked
    engine: spellings absent from the frame contribute a typed NULL
    instead of raising. ``null_type`` types the all-absent fallback so
    downstream joins/arithmetic keep their canonical types (r12 schema
    -drift probe: a string-typed NULL standing in for a bigint FK
    would re-enter the implicit-cast swamp the ingress contract
    exists to keep out).

    This is a query-CONSTRUCTION-time branch, not a plan node: when
    the canonical spelling is present the returned Column is exactly
    ``F.col(name)`` — the compiled plan on a canonical-schema source
    is bit-identical to a direct column reference (pinned in
    tests/test_schema_drift.py)."""
    present = [F.col(n) for n in names if n in df.columns]
    if not present:
        return F.lit(None).cast(null_type)
    return F.coalesce(*present) if len(present) > 1 else present[0]


def coalesce_first(*cols: ColumnOrName) -> Column:
    """First non-null across alternates (main.py:569,576-577,586,597)."""
    return F.coalesce(*[_c(c) for c in cols])


# ---------------------------------------------------------------------------
# string / bool normalization
# ---------------------------------------------------------------------------

#: Python str.strip()'s whitespace set (what the reference's .strip()
#: calls actually remove): ASCII whitespace + \x1c-\x1f + NEL + NBSP +
#: Unicode Zs + line/para separators. Spark's F.trim removes ONLY
#: 0x20, which silently diverges on tab-padded or unicode-padded input.
_PY_WS = "\\t\\n\\x0b\\f\\r\\x1c\\x1d\\x1e\\x1f \\x85\\xa0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000"


def python_strip(col: ColumnOrName) -> Column:
    """str.strip()-faithful trim (see _PY_WS)."""
    c = _c(col)
    return F.regexp_replace(
        F.regexp_replace(c, f"^[{_PY_WS}]+", ""), f"[{_PY_WS}]+$", ""
    )


def blank_to_null(col: ColumnOrName) -> Column:
    """'' → NULL (prop dropping, main.py:610,656)."""
    return F.nullif(_c(col), F.lit(""))


def email_normalize(col: ColumnOrName) -> Column:
    """strip + lowercase, blank → NULL (main.py:573). Uses the
    Python-faithful strip so tab/unicode padding normalizes exactly as
    the reference would."""
    return F.nullif(F.lower(python_strip(_c(col))), F.lit(""))


def bool_normalize(col: ColumnOrName) -> Column:
    """Messy truthiness → 'true'/'false'/NULL (to_hubspot_bool,
    main.py:114-132). String branch: case/space-insensitive membership
    in the truthy/falsy token sets; unknown strings pass through
    lowercased; blanks → NULL. Numeric inputs: non-zero → 'true'."""
    c = _c(col)
    s = F.lower(python_strip(c.cast("string")))
    return (
        F.when(c.isNull() | (s == ""), F.lit(None).cast("string"))
        .when(s.isin(*_TRUE_TOKENS), F.lit("true"))
        .when(s.isin(*_FALSE_TOKENS), F.lit("false"))
        .otherwise(s)
    )


# ---------------------------------------------------------------------------
# timestamps
# ---------------------------------------------------------------------------

def epoch_millis_utc(col: ColumnOrName) -> Column:
    """Naive timestamp treated as UTC → epoch ms (the ``clean_value``
    policy, main.py:109). Input NTZ or TIMESTAMP; session tz is pinned
    UTC by the engine so the cast is instant-preserving."""
    return F.unix_millis(_c(col).cast("timestamp"))


def epoch_millis_eastern(col: ColumnOrName) -> Column:
    """Naive timestamp treated as America/New_York wall time → epoch ms
    (the ``to_epoch_millis`` policy, main.py:154-155). DST-correct via
    the IANA tz database on the JVM side."""
    c = _c(col)
    return F.unix_millis(F.to_utc_timestamp(c.cast("timestamp"), EASTERN))


def eastern_date(col: ColumnOrName) -> Column:
    """Naive-UTC timestamp → 'yyyy-MM-dd' date string in
    America/New_York (to_eastern_date_string aware branch,
    main.py:163-165, with the engine's canonical naive=UTC storage).
    Session-tz-independent: convert_timezone pins both endpoints."""
    c = _c(col)
    return F.date_format(
        F.convert_timezone(F.lit("UTC"), F.lit(EASTERN), c.cast("timestamp_ntz")),
        "yyyy-MM-dd",
    )


def next_birthday(dob: ColumnOrName, today: ColumnOrName) -> Column:
    """DOB → next occurrence of the birthday relative to ``today``
    (compute_next_birthday, main.py:182-203) as a DATE column.

    Python's ``date.replace(year=...)`` raises on Feb-29 in non-leap
    years and the reference returns None via its except clause; Spark's
    ``make_date`` yields NULL on invalid dates, reproducing that edge
    exactly. ``today`` is an explicit column (no hidden clock) so plans
    stay deterministic and testable."""
    d, t = _c(dob), _c(today)

    # try_to_date: Feb-29 in a non-leap target year → NULL even under
    # ANSI mode (Spark 4 default, where make_date raises), mirroring
    # the reference's raise→except→None path (main.py:200-202)
    def _safe_date(year: Column) -> Column:
        return F.try_to_date(
            F.concat_ws("-", year, F.month(d), F.dayofmonth(d)), "yyyy-M-d"
        )

    this_year = _safe_date(F.year(t))
    next_year = _safe_date(F.year(t) + 1)
    return F.when(d.isNull(), F.lit(None).cast("date")).otherwise(
        F.when(this_year < t, next_year).otherwise(this_year)
    )


# ---------------------------------------------------------------------------
# identifiers / hashing / payloads
# ---------------------------------------------------------------------------

def identifier_canon(col: ColumnOrName) -> Column:
    """Numeric-ish value → canonical id string (format_identifier,
    main.py:205-221): integral values drop the fractional part
    ('123.0' → '123'), non-integral values lose trailing zeros
    ('12.3400' → '12.34'), blanks → NULL.

    Implemented over a decimal(38,9) rendering so float formatting
    artifacts never leak into keys."""
    c = _c(col)
    # try_cast: non-numeric strings fall through to the string branch
    # instead of raising under ANSI mode (Spark 4 default)
    dec = c.cast("string").try_cast("decimal(38,9)")
    s = python_strip(c.cast("string"))
    canonical = F.when(
        dec.isNotNull(),
        F.when(
            dec == F.floor(dec).cast("decimal(38,9)"),
            dec.cast("decimal(38,0)").cast("string"),
        ).otherwise(
            # render with full scale then strip trailing zeros and a
            # dangling decimal point (main.py:212 rstrip('0').rstrip('.'))
            F.regexp_replace(
                F.regexp_replace(dec.cast("string"), "0+$", ""), "\\.$", ""
            )
        ),
    ).otherwise(s)
    return F.nullif(python_strip(canonical), F.lit(""))


def phi_redact(col: ColumnOrName) -> Column:
    """sha256 hex prefix-8 of the value (hash8, main.py:93-97), used to
    redact PHI-named fields in structured logs (main.py:84-89)."""
    return F.substring(F.sha2(_c(col).cast("string"), 256), 1, 8)


def json_payload(*cols: ColumnOrName) -> Column:
    """Serialize named columns to a JSON object string (DLQ payload,
    main.py:398)."""
    return F.to_json(F.struct(*[_c(c) for c in cols]))


def truncate(col: ColumnOrName, max_len: int) -> Column:
    """Left-prefix clamp (payload ≤90000 / error ≤10000, main.py:398-399)."""
    return F.substring(_c(col), 1, max_len)


def hash8_fallback_key(*cols: ColumnOrName) -> Column:
    """Deterministic 8-hex fallback natural key: sha256 of the JSON of
    the row's identifying columns (main.py:564-565's
    ``hash8(json.dumps(...))`` fallback)."""
    return F.substring(F.sha2(json_payload(*cols), 256), 1, 8)


def natural_key(
    primary: Column, *fallbacks: Column, hash_cols: Sequence[Column] = ()
) -> Column:
    """Composite natural-key derivation (main.py:560-565): coalesce of
    canonicalized identifiers, then an optional content-hash fallback
    so no row is ever unkeyed."""
    chain = [primary, *fallbacks]
    if hash_cols:
        chain.append(hash8_fallback_key(*hash_cols))
    return F.coalesce(*chain)
