"""R1: wide pivot, multiple value columns, explicit category list.

The reference pivots 8 metrics x 7 defender positions into ~56
columns with `pivot_wider(names_from = position, values_from = c(...),
values_fill = 0)` (all coverages.R:186-188, 291-294). Spark's
groupBy().pivot() handles one category column natively; this operator
adds the multi-value-column spelling and names columns `metric_CAT`
like the reference's output.

Always pass `categories` explicitly: with the list declared, the plan
is a single aggregation (no extra distinct-scan job to discover pivot
values), the output schema is deterministic, and at 100 TB you avoid
a full pass over the fact table just to enumerate categories.

Duplicate rows per (group, category) collapse under `first()` with an
explicit in-group order — the reference's arrival-order row_number
(SURVEY.md W3 / §7 risk 1) made deterministic.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pivot_wide_multi(
    df: DataFrame,
    group_cols: Sequence[str],
    pivot_col: str,
    categories: Sequence[str],
    value_cols: Sequence[str],
    agg: str | Callable[[str], Column] = "first",
    fill_value: float | int | None = 0,
) -> DataFrame:
    """Pivot `pivot_col` into columns, one per (value_col, category).

    Output columns are named `{value_col}_{category}` (reference
    naming). `agg` is any SQL aggregate name valid per value column
    ('first', 'sum', 'avg', 'max', ...), or a callable
    `value_col -> Column` for custom aggregates (e.g. the decimal-cast
    exact sum the oracle queries need). For agg='first' make the
    input deterministic first (orderBy a stable key) — Spark's first()
    is order-sensitive.
    """
    if callable(agg):
        aggs = [agg(v).alias(v) for v in value_cols]
    else:
        aggs = [F.expr(f"{agg}(`{v}`)").alias(v) for v in value_cols]
    wide = df.groupBy(*group_cols).pivot(pivot_col, list(categories)).agg(*aggs)
    # Spark names multi-agg pivot columns "{cat}_{alias}"; rename to
    # the reference's "{alias}_{cat}".
    if len(value_cols) > 1:
        renames = {
            f"{cat}_{v}": f"{v}_{cat}" for cat in categories for v in value_cols
        }
    else:
        renames = {f"{cat}": f"{value_cols[0]}_{cat}" for cat in categories}
    wide = wide.withColumnsRenamed(renames)
    if fill_value is not None:
        # per-column coalesce rather than fillna: DataFrame.fillna
        # with a numeric silently SKIPS non-numeric columns, so a
        # string value column under agg='first' would keep its NULLs
        # despite the reference's values_fill. The cast alone is NOT
        # a type check — casting 0 to a StringType column succeeds
        # and fills '0' — so validate the fill's Python type against
        # each column's family first and raise on mismatch.
        from pyspark.sql.types import BooleanType, NumericType, StringType

        def _family(dt):
            if isinstance(dt, BooleanType):
                return "bool"
            if isinstance(dt, NumericType):
                return "numeric"
            if isinstance(dt, StringType):
                return "string"
            return type(dt).__name__

        fill_family = (
            "bool"
            if isinstance(fill_value, bool)
            else "numeric"
            if isinstance(fill_value, (int, float))
            else "string"
            if isinstance(fill_value, str)
            else type(fill_value).__name__
        )
        schema = wide.schema
        for c in renames.values():
            col_family = _family(schema[c].dataType)
            if col_family != fill_family:
                raise TypeError(
                    f"pivot fill_value {fill_value!r} ({fill_family}) is "
                    f"incompatible with column {c!r} of type "
                    f"{schema[c].dataType.simpleString()}"
                )
        wide = wide.withColumns(
            {
                c: F.coalesce(
                    F.col(c), F.lit(fill_value).cast(schema[c].dataType)
                )
                for c in renames.values()
            }
        )
    return wide
