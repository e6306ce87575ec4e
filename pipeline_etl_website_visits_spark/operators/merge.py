"""Keyed merge/upsert — the engine equivalent of the reference's MySQL MERGE.

Behavioral anchor: reference utils/utils_load.py:43-84 (MERGE INTO
visitantes), with the SURVEY §0.1 rulings applied:
- D22: ``fechaPrimeraVisita`` keeps the target value when matched
  (first visit never changes);
- greatest(target, source) for ``fechaUltimaVisita``
  (utils/utils_load.py:58-62);
- counters add when matched, reset on year/month rollover (D21 fixed:
  year+month both checked for the month counter);
- not-matched ⇒ insert source row (utils/utils_load.py:79-81).

Spark-first design: the upsert is a full-outer join between the target
table and the (small) batch aggregate, then one select with per-column
merge rules (a full-outer join cannot broadcast — both sides' unmatched
rows must surface — so it shuffles; bucketing both sides removes that);
the target is only rewritten where keys changed — at scale the target
would be bucketed by the merge key so re-runs shuffle nothing, or backed
by Delta's MERGE INTO which has identical semantics.

:func:`visitantes_merge` writes its projections and join condition as SQL
text, because each classic ``Column`` call costs about a dozen py4j round
trips, and the merge is built once per committed file. It joins on plain
email equality and requires both inputs free of NULL emails; the join then
reuses whatever hash partitioning on email its inputs carry.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import date

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

MergeRule = Callable[[Column, Column], Column]  # (target_col, source_col) -> merged


def keep_target(t: Column, s: Column) -> Column:
    """Matched ⇒ target wins; else whichever exists (D22 keep-first)."""
    return F.coalesce(t, s)


def take_source(t: Column, s: Column) -> Column:
    return F.coalesce(s, t)


def greatest_of(t: Column, s: Column) -> Column:
    return F.greatest(F.coalesce(t, s), F.coalesce(s, t))


def add_counters(t: Column, s: Column) -> Column:
    return F.coalesce(t, F.lit(0)) + F.coalesce(s, F.lit(0))


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key: str | list[str],
    rules: dict[str, MergeRule],
    null_safe: bool = True,
) -> DataFrame:
    """Generic full-outer-join merge.

    ``rules`` maps each non-key column to a merge rule; columns present in
    only one side pass through. Output column order: key(s) then rule
    columns. No broadcast hint: Spark cannot broadcast a full-outer join
    (it must see both sides' unmatched rows), so the hint is ignored with a
    warning; the scale path to a shuffle-free merge is bucketing both
    sides on the key (docs/SCALE.md), not broadcasting.

    ``null_safe=False`` joins with plain equality instead of ``eqNullSafe``.
    Use it when the key is known non-null (e.g. it is a groupBy key over a
    non-null column): Spark plans a null-safe join on the rewritten keys
    ``(coalesce(k, 0), isnull(k))``, which does NOT match the
    hashpartitioning either input already carries from its aggregation —
    both (pre-aggregated) sides re-shuffle. Plain equality reuses the agg
    partitioning: zero extra exchanges (asserted in test_plans).
    """
    keys = [key] if isinstance(key, str) else list(key)
    t = target.select([F.col(c).alias(f"t_{c}") for c in target.columns])
    s = source.select([F.col(c).alias(f"s_{c}") for c in source.columns])
    cond = None
    for k in keys:
        tk, sk = t[f"t_{k}"], s[f"s_{k}"]
        c = tk.eqNullSafe(sk) if null_safe else (tk == sk)
        cond = c if cond is None else (cond & c)
    joined = t.join(s, cond, "full_outer")
    out = [F.coalesce(f"t_{k}", f"s_{k}").alias(k) for k in keys]
    for col_name, rule in rules.items():
        tc = F.col(f"t_{col_name}") if f"t_{col_name}" in joined.columns else F.lit(None)
        sc = F.col(f"s_{col_name}") if f"s_{col_name}" in joined.columns else F.lit(None)
        out.append(rule(tc, sc).alias(col_name))
    return joined.select(*out)


_VISITANTES_COLS = [
    "email",
    "fechaPrimeraVisita",
    "fechaUltimaVisita",
    "visitasTotales",
    "visitasAnioActual",
    "visitasMesActual",
]
_TARGET_SQL = [f"{c} AS t_{c}" for c in _VISITANTES_COLS]
_SOURCE_SQL = [f"{c} AS s_{c}" for c in _VISITANTES_COLS]


def _period_counter(c: str, same_period: str) -> str:
    # add when matched within the current period, else restart from the
    # batch (or keep the target when the batch lacks the key)
    return (
        f"CAST(CASE WHEN t_email IS NOT NULL AND s_email IS NOT NULL AND {same_period} "
        f"THEN coalesce(t_{c}, 0) + coalesce(s_{c}, 0) "
        f"ELSE coalesce(s_{c}, t_{c}, 0) END AS BIGINT) AS {c}"
    )


def _merged_sql(cur: str) -> list[str]:
    same_year = f"year(t_fechaUltimaVisita) = year({cur})"
    same_ym = f"{same_year} AND month(t_fechaUltimaVisita) = month({cur})"
    return [
        "coalesce(t_email, s_email) AS email",
        # D22: first visit never changes once set.
        "coalesce(t_fechaPrimeraVisita, s_fechaPrimeraVisita) AS fechaPrimeraVisita",
        "greatest(coalesce(t_fechaUltimaVisita, s_fechaUltimaVisita), "
        "coalesce(s_fechaUltimaVisita, t_fechaUltimaVisita)) AS fechaUltimaVisita",
        "CAST(coalesce(t_visitasTotales, 0) + coalesce(s_visitasTotales, 0) AS BIGINT) "
        "AS visitasTotales",
        _period_counter("visitasAnioActual", same_year),
        _period_counter("visitasMesActual", same_ym),
    ]


_MERGED_TODAY_SQL = _merged_sql("current_date()")


def visitantes_merge(
    target: DataFrame,
    source: DataFrame,
    process_date: str | None = None,
) -> DataFrame:
    """The concrete visitantes upsert (email-keyed), all rules applied.

    The join is plain equality on email, so neither input may hold a NULL
    email (a NULL would match nothing and come out as its own row): source
    rows passed email validation, and the snapshot holds only merged rows.
    A null-safe join would be planned on rewritten keys
    (``coalesce(email, '')``, ``isnull(email)``), which no input is
    partitioned on, so both sides would shuffle again.

    ``process_date`` (ISO yyyy-mm-dd) pins "current" year/month for
    deterministic tests; defaults to the current date.
    """
    if process_date is None:
        merged = _MERGED_TODAY_SQL
    else:
        merged = _merged_sql(f"DATE'{date.fromisoformat(process_date).isoformat()}'")
    t = target.selectExpr(*_TARGET_SQL)
    s = source.selectExpr(*_SOURCE_SQL)
    return t.join(s, F.expr("t_email = s_email"), "full_outer").selectExpr(*merged)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    attr_cols: list[str],
    effective_date: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    current: str = "is_current",
    open_end: str | None = "9999-12-31",
) -> DataFrame:
    """Slowly-changing-dimension Type 2 maintenance: apply an update batch
    to a versioned dimension, closing changed current rows at
    ``effective_date`` and opening new versions, while no-op updates
    (identical attributes) and history rows pass through untouched.

    Semantics (standard SCD2 MERGE):

    - matched + changed attributes → close the current row at
      ``effective_date`` and open a new version;
    - matched + identical attributes (null-safe) → no-op pass-through;
    - update key absent from the dimension → INSERT a brand-new current
      row (``valid_from = effective_date``, ``valid_to = open_end`` — the
      dimension's open-ended sentinel, NULL if ``open_end=None``);
    - duplicate keys in the update batch → **error** (raise_error at
      evaluation time): two updates for one key would multiply each
      current dim row into conflicting closed/open pairs, so the batch
      must be pre-deduplicated (pick last-writer-wins upstream).

    Scale shape — ONE full dimension scan: the (small) batch broadcasts
    onto the current slice, each row maps to an array of 1 or 2 versions
    (pass-through, or [closed, new]) and explodes — no shuffle beyond the
    broadcast, no union re-scans, history never leaves its partitions.
    The insert branch costs one extra key-pruned scan of the CURRENT
    slice (an anti-join on just the key column) — proportional to
    |current keys|, not |history|. Attribute comparison is null-safe
    (NULL → NULL is "unchanged").
    """
    from pyspark.sql.window import Window

    eff = F.lit(effective_date).cast("date")
    u_checked = updates.select(
        F.col(key), *[F.col(a).alias(f"__u_{a}") for a in attr_cols]
    ).withColumn("__k_cnt", F.count("*").over(Window.partitionBy(key)))
    # evaluates to TRUE per row, or raises if the batch carries the key twice
    guard = F.when(
        F.col("__k_cnt") > 1,
        F.raise_error(
            F.concat(
                F.lit("scd2_apply: duplicate update-batch key "),
                F.col(key).cast("string"),
            )
        ).cast("boolean"),
    ).otherwise(F.lit(True))
    u = F.broadcast(
        u_checked.select(
            F.col(key),
            guard.alias("__upd"),
            *[f"__u_{a}" for a in attr_cols],
        )
    )
    joined = dim.join(u, key, "left")
    differs = F.lit(False)
    for a in attr_cols:
        differs = differs | ~F.col(a).eqNullSafe(F.col(f"__u_{a}"))
    changed = F.col(current) & F.coalesce(F.col("__upd"), F.lit(False)) & differs

    out_cols = [key, *attr_cols, valid_from, valid_to, current]

    def version(attrs: dict[str, Column]) -> Column:
        return F.struct(*[attrs.get(c, F.col(c)).alias(c) for c in out_cols])

    closed = version({valid_to: eff, current: F.lit(False)})
    opened = version(
        {
            **{a: F.col(f"__u_{a}") for a in attr_cols},
            valid_from: eff,
        }
    )
    rows = F.when(changed, F.array(closed, opened)).otherwise(F.array(version({})))
    versioned = joined.select(F.explode(rows).alias("__v")).select("__v.*")

    # INSERT branch: update keys with no current dim member become new
    # open rows. The anti-join's dim side is pruned to (key, is_current)
    # by Catalyst; the filter(guard) pins the duplicate-key check to this
    # path too (column pruning would otherwise drop it).
    inserts = (
        u_checked.filter(guard)
        .join(dim.filter(F.col(current)).select(key), key, "left_anti")
        .select(
            F.col(key),
            *[F.col(f"__u_{a}").alias(a) for a in attr_cols],
            eff.alias(valid_from),
            F.lit(open_end).cast(dim.schema[valid_to].dataType).alias(valid_to),
            F.lit(True).alias(current),
        )
        .select(out_cols)
    )
    return versioned.unionByName(inserts)
