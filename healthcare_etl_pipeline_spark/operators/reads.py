"""Read-path operators: point lookup, consent semi-join, listing, pagination.

Re-expresses the reference's query endpoints (reference:
app/api/routes.py:177 point lookup; :181-188 consent existence check;
:216-226 consent-gated listing with offset/limit clamp; :199-205/:227-236
PHI-free response projection; app/models/patient.py:49-50 selectin child
prefetch → nested shape).

Deviations (documented, SURVEY.md §7.6):
- The reference listing has no ORDER BY (arbitrary Postgres page order); the
  Spark version sorts on a stable key — pagination without a total order is
  nondeterministic across retries/partitions.
- Pagination uses row_number over the sort key. At 100 TB depth-paging by
  OFFSET is inherently O(offset); prefer ``keyset_page`` (WHERE key > last)
  which prunes with the scan instead of ranking everything.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

MAX_PAGE_SIZE = 200  # reference routes.py:215 clamp


def point_lookup(df: DataFrame, key_col: str, key_value) -> DataFrame:
    """PK lookup (reference routes.py:177). Equality pushes to the scan."""
    return df.filter(F.col(key_col) == F.lit(key_value)).limit(1)


def semi_join_exists(df: DataFrame, other: DataFrame, on: Column) -> DataFrame:
    """EXISTS(...) as a left-semi join (reference J2, routes.py:181-183)."""
    return df.join(other, on, "left_semi")


def anti_join_not_exists(df: DataFrame, other: DataFrame, on: Column) -> DataFrame:
    """NOT EXISTS(...) as a left-anti join (reference J4 semantics)."""
    return df.join(other, on, "left_anti")


def paginate(
    df: DataFrame,
    order_by: list[Column | str],
    offset: int = 0,
    limit: int = MAX_PAGE_SIZE,
) -> DataFrame:
    """Deterministic offset/limit pagination, two-phase:

    1. ``orderBy().limit(offset+limit)`` — Spark plans TakeOrderedAndProject:
       each partition keeps its own top-(offset+limit), the driver merges —
       the full result is NEVER ranked through one partition.
    2. row_number over the surviving ≤ offset+limit rows (a tiny frame, so
       the single-partition window is bounded by the page depth, not the
       data) drops the first ``offset``.

    Still O(offset) work per page by nature of OFFSET — for deep scans use
    ``keyset_page``, which the flagship listing now defaults to.
    """
    limit = min(limit, MAX_PAGE_SIZE)
    top = df.orderBy(*order_by).limit(offset + limit)
    w = Window.orderBy(*order_by)
    return (
        top.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > offset)
        .drop("_rn")
    )


def keyset_page(
    df: DataFrame, key_col: str, after_key=None, limit: int = MAX_PAGE_SIZE
) -> DataFrame:
    """Scale-path pagination: WHERE key > :last ORDER BY key LIMIT n.

    The predicate pushes to the parquet scan (min/max pruning), so page N+1
    costs the same as page 1 — unlike OFFSET which ranks the full prefix.
    """
    limit = min(limit, MAX_PAGE_SIZE)
    out = df
    if after_key is not None:
        out = out.filter(F.col(key_col) > F.lit(after_key))
    return out.orderBy(key_col).limit(limit)


def keyset_page_multi(
    df: DataFrame,
    key_cols: list[str],
    after: tuple | None = None,
    limit: int = MAX_PAGE_SIZE,
) -> DataFrame:
    """Keyset pagination over a COMPOSITE sort key (lexicographic).

    ``WHERE (k1, k2, …) > (:l1, :l2, …) ORDER BY k1, k2, … LIMIT n`` —
    expanded into the row-comparison disjunction
    ``k1 > l1 OR (k1 = l1 AND k2 > l2) OR …`` so the leading-column
    prefix ``k1 >= l1`` still reaches the scan for min/max pruning.
    The ORDER BY + LIMIT plans as TakeOrderedAndProject (per-partition
    top-n, driver merge) — no global sort, no window.
    """
    limit = min(limit, MAX_PAGE_SIZE)
    out = df
    if after is not None:
        if len(after) != len(key_cols):
            raise ValueError(
                f"after tuple has {len(after)} values for {len(key_cols)} keys"
            )
        pred = None
        for i, (col, val) in enumerate(zip(key_cols, after)):
            eq_prefix = None
            for pcol, pval in zip(key_cols[:i], after[:i]):
                e = F.col(pcol) == F.lit(pval)
                eq_prefix = e if eq_prefix is None else eq_prefix & e
            gt = F.col(col) > F.lit(val)
            term = gt if eq_prefix is None else eq_prefix & gt
            pred = term if pred is None else pred | term
        out = out.filter(pred)
    return out.orderBy(*key_cols).limit(limit)


def consented_listing(
    patients: DataFrame,
    consents: DataFrame,
    *,
    consent_type: str = "data_sharing",
    after: tuple | None = None,
    offset: int | None = None,
    limit: int = MAX_PAGE_SIZE,
    order_key: str = "mrn",
) -> DataFrame:
    """Consent-gated PHI-free listing (reference routes.py:216-226 + :227-236).

    Reference uses an inner join (can duplicate patients); the correct
    semantics is a semi-join — dedup-free by construction. The granted-consent
    side is filtered before the join so only matching keys ship.

    Pagination defaults to KEYSET (``after`` = the previous page's last
    (order_key, id), predicate pushed to the scan, page N+1 costs page 1) —
    the 100 TB-sane default. Passing ``offset`` explicitly opts into the
    reference's offset/limit form, which is O(offset) by construction.
    """
    granted = consents.filter(
        (F.col("consent_type") == consent_type) & F.col("granted")
    ).select(F.col("patient_id").alias("id"))
    gated = patients.join(granted, "id", "left_semi")
    projected = gated.select(
        "id",
        "mrn",
        "gender",
        "created_at",
        F.lit(True).alias("has_data_sharing_consent"),
    )
    if offset is not None:
        return paginate(projected, [order_key, "id"], offset=offset, limit=limit)
    return keyset_page_multi(projected, [order_key, "id"], after=after, limit=limit)


def nested_patient_shape(patients: DataFrame, consents: DataFrame) -> DataFrame:
    """Patient-with-consents nested shape (reference selectin prefetch, J3).

    ``collect_list(struct(...))`` after a key join replaces the reference's
    two-query selectin load with one shuffle on patient_id.
    """
    nested = (
        consents.groupBy("patient_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("consent_type", "granted", "granted_at")
                )
            ).alias("consents")
        )
        .withColumnRenamed("patient_id", "id")
    )
    return patients.join(nested, "id", "left")
