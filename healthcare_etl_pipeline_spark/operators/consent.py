"""Consent gate: predicate-routed record split with reasoned side-output.

Re-expresses the reference's check_consent stage (reference:
app/etl/pipeline.py:64-84): records pass only when
``record.consent.data_sharing is True`` — strict identity check, so missing
consent, None, or any non-True value routes the record to the blocked
side-output with ``{mrn, reason}``.

Spark mapping: a null-safe equality filter (``<=> true``) and its negation.
Both branches share the same scan; at scale the filter pushes down to
parquet when consent is a top-level column.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_REASON = "no data_sharing consent"


class ConsentSplit(NamedTuple):
    consented: DataFrame
    blocked: DataFrame  # id column(s) + `reason` string column


def consent_passes(consent_col: str | Column) -> Column:
    """Column<boolean>, never null: ``consent_col <=> true``.

    Null-safe equality reproduces the reference's ``is True``: null,
    missing and false all block.
    """
    c = F.col(consent_col) if isinstance(consent_col, str) else consent_col
    return c.eqNullSafe(F.lit(True))


def consent_gate(
    df: DataFrame,
    consent_col: str | Column = "consent.data_sharing",
    id_cols: tuple[str, ...] = ("mrn",),
    reason: str = DEFAULT_REASON,
) -> ConsentSplit:
    """Split on the strict boolean-True predicate ``consent_passes``; any
    boolean ``Column`` works as the predicate (null counts as blocked)."""
    passed = consent_passes(consent_col)
    consented = df.filter(passed)
    blocked = df.filter(~passed).select(*id_cols, F.lit(reason).alias("reason"))
    return ConsentSplit(consented, blocked)
