"""Validation + transformation layer of the visits ETL.

Reference behavior (SURVEY §2.3-§2.6): per file —
layout check → per-row validity flags (email regex, strict date regex) →
valid/invalid split → error expansion (one row per failed check) →
normalize/rename/cast → per-email aggregate. Everything below is a lazy
DataFrame lineage: one CSV scan feeds both branches, Catalyst prunes and
pushes down, the only wide op is the per-email aggregate.

Each step is one projection whose expressions are SQL text built once, at
import: every classic ``Column`` call costs about a dozen py4j round trips
(call-site capture included), so a step the JVM parses in one call builds
several times faster than the same step sent Column by Column.

Defect rulings applied (SURVEY §0.1): D6 (cast on renamed columns),
D7 (cast ints first, null-normalize "-"/"0" for string columns only, keep
int 0), D20 (first/last visit dates from the batch's fechaEnvio min/max).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pipeline_etl_website_visits_spark.etl import schema as S
from pipeline_etl_website_visits_spark.functions import sql_ident, sql_string

_DATE_FLAG_BY_COL = {
    "Fecha envio": "valid_fecha_envio",
    "Fecha open": "valid_fecha_open",
    "Fecha click": "valid_fecha_click",
}


def validate_layout(columns: list[str]) -> tuple[bool, list[str], list[str]]:
    """Set-compare file columns vs the declared layout.

    Missing ⇒ hard failure, extra ⇒ tolerated (utils/utils_transform.py:87-99).
    Column order is irrelevant. Driver-side on the header — not a
    distributed op (SURVEY §2.2).
    """
    have = set(columns)
    missing = [c for c in S.VALID_COLUMNS if c not in have]
    extra = [c for c in columns if c not in set(S.VALID_COLUMNS)]
    return (not missing, missing, extra)


def _email_valid(col: str) -> str:
    # notna ∧ trim≠"" ∧ regex (utils/utils_transform.py:112-116).
    c = sql_ident(col)
    return (
        f"({c} IS NOT NULL AND trim({c}) != '' "
        f"AND trim({c}) RLIKE {sql_string(S.EMAIL_PATTERN)})"
    )


def _date_valid(col: str) -> str:
    # NULL is valid; non-null must be non-blank and strict-format
    # (utils/utils_transform.py:121-129).
    c = sql_ident(col)
    return f"({c} IS NULL OR (trim({c}) != '' AND trim({c}) RLIKE {sql_string(S.DATE_PATTERN)}))"


_FLAGS = {"valid_email": _email_valid("email")} | {
    flag: _date_valid(src) for src, flag in _DATE_FLAG_BY_COL.items()
}
_FLAGS_SQL = [f"{e} AS {flag}" for flag, e in _FLAGS.items()] + [
    f"({' AND '.join(_FLAGS.values())}) AS is_valid"
]
_FLAG_COLS = [*_FLAGS, "is_valid"]

_CHECKS_SQL = (
    "explode(filter(array("
    + ", ".join(
        f"CASE WHEN NOT {flag} THEN {sql_string(label)} END"
        for flag, label in zip(_FLAGS, S.ERROR_TYPES)
    )
    + "), x -> x IS NOT NULL)) AS tipoError"
)


def _normalized(src: str) -> str:
    # D7: strings trim then map "-"/"0"/"" to NULL, dates parse strictly,
    # ints cast directly; keyed on the renamed column (D6).
    dst = S.COLUMNS_TO_MAP[src]
    c = sql_ident(src)
    if dst in S.STR_COLUMNS:
        e = f"CASE WHEN trim({c}) IN ('-', '0') OR trim({c}) = '' THEN NULL ELSE trim({c}) END"
    elif dst in S.TS_COLUMNS:
        e = f"to_timestamp(trim({c}), {sql_string(S.DATE_FORMAT)})"
    elif dst in S.INT_COLUMNS:
        e = f"CAST({c} AS INT)"
    else:
        e = c
    return f"{e} AS {sql_ident(dst)}"


_NORMALIZED = {c: _normalized(c) for c in S.VALID_COLUMNS}

_VISITORS_AGG = [
    "count(*) AS visitasTotales",
    "count(*) AS visitasAnioActual",
    "count(*) AS visitasMesActual",
    "coalesce(min(CAST(fechaEnvio AS DATE)), current_date()) AS fechaPrimeraVisita",
    "coalesce(max(CAST(fechaEnvio AS DATE)), current_date()) AS fechaUltimaVisita",
]


def with_validity_flags(df: DataFrame) -> DataFrame:
    """Add valid_email / valid_fecha_* / is_valid boolean columns (F1-F3)."""
    return df.selectExpr("*", *_FLAGS_SQL)


def split_valid_invalid(flagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F4: two filtered branches of one lineage (utils/utils_transform.py:135-136)."""
    return flagged.filter("is_valid"), flagged.filter("NOT is_valid")


def expand_errors(invalid: DataFrame, filename_sql: str) -> DataFrame:
    """E1: one output row per failed check, vectorized.

    The reference iterates rows in Python (utils/utils_transform.py:143-165);
    here it is array(CASE...) → filter nulls → explode — fully codegen'd.
    ``filename_sql`` is the SQL text of the file name: a column name or a
    :func:`sql_string` literal. Output: (nombreArchivo, email, tipoError).
    """
    return invalid.selectExpr(f"{filename_sql} AS nombreArchivo", "email", _CHECKS_SQL)


def normalize_and_cast(valid: DataFrame, filename_sql: str | None = None) -> DataFrame:
    """P1-P5: rename → trim/null-normalize strings → cast dates and ints,
    in one projection; unknown columns pass through unchanged, the flag
    columns are dropped, and ``filename_sql`` (SQL text, as in
    :func:`expand_errors`) is appended as nombreArchivo when given.

    D7 ruling: int columns cast directly (unparseable → NULL, literal 0
    survives); string columns trim then map "-"/"0" → NULL; date columns
    parse strictly as dd/MM/yyyy HH:mm (unparseable → NULL, matching
    pandas errors="coerce").
    """
    exprs = [_NORMALIZED.get(c, sql_ident(c)) for c in valid.columns if c not in _FLAG_COLS]
    if filename_sql is not None:
        exprs.append(f"{filename_sql} AS nombreArchivo")
    return valid.selectExpr(*exprs)


def visitors_aggregate(stats: DataFrame) -> DataFrame:
    """A1+A3: per-email batch aggregate feeding the visitantes merge.

    Counters are the batch's row count (utils/utils_transform.py:229-233);
    first/last visit dates derive from fechaEnvio min/max (D20 ruling),
    falling back to the current date when all fechaEnvio are NULL.
    """
    return stats.groupBy("email").agg(*map(F.expr, _VISITORS_AGG))


def transform_file(raw: DataFrame, filename: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full per-file transform: (estadisticas, visitors_batch, errores).

    ``raw`` is the all-string projection of one report file (layout already
    validated). One scan, three outputs, all lazy.
    """
    flagged = with_validity_flags(raw)
    ok, bad = split_valid_invalid(flagged)
    name = sql_string(filename)
    errores = expand_errors(bad, name)
    stats = normalize_and_cast(ok, name)
    visitors = visitors_aggregate(stats)
    return stats, visitors, errores
