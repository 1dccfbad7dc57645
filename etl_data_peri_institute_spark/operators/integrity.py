"""Integrity operators: dedup, PK/FK checks, required-column validation.

The reference enforces integrity procedurally at load time with Python
sets and chunked IN-list readbacks (etl/load.py:49-198); here each check
is a plan operator — broadcast semi/anti joins and window dedup — that
runs before the sink, distributed, with no driver-side key sets. At 100
TB the parent-key sides are ``select(pk).distinct()`` projections that
broadcast when small and shuffle-join when not (AQE decides).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..sources.grid import ROW_IDX


class IntegrityError(Exception):
    """Raised where the reference aborts the load (etl/load.py:82-83,132,196)."""


def dedupe_keep_last(df: DataFrame, pk: str, order_col: str = ROW_IDX) -> DataFrame:
    """D1: keep-LAST dedup by PK in ingest order (reference
    drop_duplicates(keep="last"), etl/transform.py:33-38 / etl/load.py:49-58).

    Faithful distributed form: row_number over (pk, order desc) — NOT
    dropDuplicates, which keeps an arbitrary row (SURVEY.md §7.4.2).
    """
    w = W.partitionBy(pk).orderBy(F.desc(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def duplicate_keys(df: DataFrame, pk: str) -> DataFrame:
    """A3: keys appearing more than once (reference duplicated(keep=False))."""
    return df.groupBy(pk).agg(F.count("*").alias("n")).filter(F.col("n") > 1)


def assert_pk_absent(incoming: DataFrame, existing: DataFrame, pk: str, table: str) -> None:
    """J1: abort INSERT when any incoming PK already exists in the target
    (reference etl/load.py:59-85 — chunked IN-list readback + set
    intersection → here one semi join).

    No forced broadcast: the existing-PK side is unbounded (it is the
    whole stored table's key set), so AQE promotes it to broadcast only
    when its runtime size is under the threshold; otherwise it shuffles.
    """
    clash = (
        incoming.join(existing.select(pk).distinct(), pk, "left_semi")
        .select(pk)
        .limit(5)
        .collect()
    )
    if clash:
        examples = [r[0] for r in clash]
        raise IntegrityError(
            f"PKs already present in '{table}': e.g. {examples} — aborting insert"
        )


@dataclass
class FkResult:
    valid: DataFrame
    missing: DataFrame


def fk_split(child: DataFrame, parent: DataFrame, key: str) -> FkResult:
    """J2/J3: split child rows by FK existence in parent (reference
    etl/load.py:87-134,156-198 — set difference → semi/anti join pair).

    The caller decides abort vs audit-and-drop (O6 policy flags).

    The parent-key projection is NOT force-broadcast: parent tables grow
    without bound at scale, and a forced broadcast of an unbounded frame
    OOMs the driver. AQE broadcasts it when the runtime size is small.
    """
    parent_keys = parent.select(key).na.drop().distinct()
    return FkResult(
        valid=child.join(parent_keys, key, "left_semi"),
        missing=child.join(parent_keys, key, "left_anti"),
    )


def required_not_null_split(df: DataFrame, required: list[str]) -> FkResult:
    """F4: split rows by required-column completeness (reference
    etl/load.py:136-154); ``missing`` feeds the audit sink."""
    any_null = F.lit(False)
    for c in required:
        any_null = any_null | F.col(c).isNull()
    return FkResult(valid=df.filter(~any_null), missing=df.filter(any_null))


REJECT = "_reject"


@dataclass(frozen=True)
class ForeignKey:
    """Reject rule: the row's ``key`` is not among ``parent``'s keys."""

    reason: str
    parent: DataFrame
    key: str


@dataclass(frozen=True)
class RequiredNotNull:
    """Reject rule: one of ``columns`` is null."""

    reason: str
    columns: list[str]


def label_rejects(child: DataFrame, *rules: ForeignKey | RequiredNotNull) -> DataFrame:
    """J2/J3 + F4 as one labelling pass: add a ``_reject`` column holding
    the reason of the first declared rule a row breaks (null when it
    breaks none). One labelled frame then feeds the reject counts, each
    audit and the insert, instead of a semi/anti pair plus a null split
    that each re-run the child plan.

    An FK rule left-joins the parent's distinct non-null keys tagged with
    a marker column; a row left without the marker is missing — a null
    child key never matches, as in ``fk_split``'s anti join. The parent
    side is not force-broadcast (see ``fk_split``). Columns come out in
    the order of a join on each FK key — the key first, as from
    ``fk_split``'s semi join, so stored table layouts do not change —
    then ``_reject``."""
    out = child
    tags: list[str] = []
    broken: list[tuple[Column, str]] = []
    for i, rule in enumerate(rules):
        if isinstance(rule, ForeignKey):
            tag = f"__fk_{i}"
            tags.append(tag)
            keys = rule.parent.select(rule.key).na.drop().distinct()
            out = out.join(keys.withColumn(tag, F.lit(True)), rule.key, "left")
            broken.append((F.col(tag).isNull(), rule.reason))
        else:
            any_null = F.lit(False)
            for c in rule.columns:
                any_null = any_null | F.col(c).isNull()
            broken.append((any_null, rule.reason))
    label = F.lit(None).cast("string")
    for cond, reason in reversed(broken):
        label = F.when(cond, reason).otherwise(label)
    return out.withColumn(REJECT, label).drop(*tags)


def assert_castable(df: DataFrame, raw_col: str, casted_col: str) -> None:
    """C14 strictness: the reference's astype(int) raises on bad input;
    try_cast yields NULL. Fail fast if any non-null raw value failed to
    cast (SURVEY.md §7.4.5)."""
    bad = df.filter(F.col(casted_col).isNull() & F.col(raw_col).isNotNull()).limit(5).collect()
    if bad:
        raise IntegrityError(f"non-castable values in {raw_col}: {[r[raw_col] for r in bad]}")
