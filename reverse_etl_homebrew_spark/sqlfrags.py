"""Shared DuckDB-oracle SQL fragments.

Leaf module (no package imports) so both ``queries_text`` and
``queries_analytic`` can use these at module-import time without
creating a cycle through ``queries``.
"""

_DOT_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
)

# DuckDB twin of functions/vectors.finite_geometry (r13 vector-tier
# non-finite class): a vector is in the geometry universe iff it is
# non-NULL, has no NULL component, and its self-dot is a finite
# double — the exact quantity the scorers consume, so the engine-side
# check is the SAME flat codegen fold the norms already use (a
# forall() HOF predicate measured +11-47% on the hot similarity
# keys; this form is ~free). NULL components need the explicit
# list_filter leg because DuckDB's list_sum SKIPS NULLs (SQL SUM)
# while the engine's left fold propagates them.
FINITE_VEC_SQL = (
    "({c} IS NOT NULL"
    " AND len(list_filter({c}, x -> x IS NULL)) = 0"
    " AND len({c}) > 0"
    " AND isfinite(list_sum(list_transform({c},"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)

# The oracle of topk-similarity and topk-similarity-pandas, two names
# on one builder (topk_brute's fused left-fold kernel).
_TOPK_SIM_SQL = f"""
    WITH q AS (
      SELECT embedding AS qv FROM embeddings
      WHERE vec_id = 0 AND {FINITE_VEC_SQL.format(c='embedding')}
    ), scored AS (
      SELECT e.vec_id,
             {_DOT_SQL.format(a='e.embedding', b='q.qv')} AS dp,
             sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')}) AS na,
             sqrt({_DOT_SQL.format(a='q.qv', b='q.qv')}) AS nq
      FROM embeddings e, q
      WHERE {FINITE_VEC_SQL.format(c='e.embedding')}
    )
    SELECT vec_id,
           ROUND(CASE WHEN na * nq > 0 THEN dp / (na * nq) END, 6) AS score
    FROM scored
    ORDER BY score DESC, vec_id
    LIMIT 10
    """


def word_ngram_rows(
    src: str,
    n: int,
    *,
    id_expr: str = "id",
    tok_expr: str = "w",
    id_alias: str = "id",
    win_alias: str = "g",
    short_docs: str = "truncate",
    sep: str = " ",
    row_alias: str = "",
) -> str:
    """Linear DuckDB word-n-gram/window row generator: one output row
    per length-``n`` window of ``tok_expr`` (a token LIST column or
    expression over ``src``), assembled via zipped unnest + lead()
    instead of the lateral ``FROM toks, unnest(generate_series(...))``
    + ``list[i:i+k]`` slice idiom the oracles originally used.

    The lateral form is CORRECT but quadratic in practice: DuckDB
    materializes the full token list once per lateral output row, so a
    single 60k-token document (the giant-rows poison class, r14) costs
    60k list copies of 60k elements — the oracle side of the span and
    gram keys ran >25 min on ONE poisoned row where this form takes
    seconds (measured in fixtures/giant_rows_probe.py; value-equality
    old-vs-new pinned on clean corpora before the swap).

    ``short_docs``:
      - ``"truncate"``: docs with fewer than ``n`` tokens emit ONE
        truncated window holding the whole doc — the semantics of the
        original ``generate_series(1, greatest(len(w) - (n-1), 1))``
        sites (gram oracles);
      - ``"drop"``: docs with fewer than ``n`` tokens emit nothing —
        the strict ``WHERE len(tt) >= n`` sites (span oracles).

    Windows are assembled per-document via a synthetic per-ROW
    partition key (``row_number()``), never the id column alone: two
    NULL-id documents in one partition would interleave tokens across
    documents (the r11 NULL-key class, which deliberately keeps
    NULL-id docs in corpus-frequency scope).

    ``row_alias``, when non-empty, projects the synthetic per-row key
    itself out under that name, so a caller whose aggregation is
    per-PHYSICAL-ROW (not per-id) can ``GROUP BY`` it. Grouping on the
    id column alone silently assumes id uniqueness — under duplicate
    ids (the r12 conflicting-redelivery arm, same doc_id delivered
    twice with different text) a per-id group merges the versions'
    windows while a per-row engine plan keeps them separate.
    """
    if short_docs not in ("truncate", "drop"):
        raise ValueError(f"short_docs must be truncate|drop, got {short_docs!r}")
    leads = [f"lead(t, {k}) OVER w" for k in range(1, n)]
    joiner = f" || '{sep}' || " if sep else " || "
    full = joiner.join(["t", *leads])
    if short_docs == "truncate":
        sep_lit = f"'{sep}' || " if sep else ""
        prefix = " || ".join(
            ["t", *[f"coalesce({sep_lit}{ld}, '')" for ld in leads]]
        )
        win_expr = (
            f"CASE WHEN {leads[-1]} IS NOT NULL THEN {full} "
            f"WHEN i = 1 THEN {prefix} END"
        )
    else:
        win_expr = f"CASE WHEN {leads[-1]} IS NOT NULL THEN {full} END"
    row_out = f", __r AS {row_alias}" if row_alias else ""
    row_mid = ", __r" if row_alias else ""
    return f"""
      SELECT {id_alias}, {win_alias}{row_out} FROM (
        SELECT {id_alias}, i{row_mid}, {win_expr} AS {win_alias}
        FROM (
          SELECT {id_alias}, __r,
                 unnest(__tl) AS t,
                 unnest(generate_series(1, len(__tl))) AS i
          FROM (SELECT {id_expr} AS {id_alias}, {tok_expr} AS __tl,
                       row_number() OVER () AS __r
                FROM {src})
        )
        WINDOW w AS (PARTITION BY __r ORDER BY i)
      ) WHERE {win_alias} IS NOT NULL
    """
