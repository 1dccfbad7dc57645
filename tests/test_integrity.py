"""Integrity-operator tests: keep-last dedup determinism, PK guard,
FK splits, required-null split, strict-cast assert."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_data_peri_institute_spark.operators.integrity import (
    REJECT,
    ForeignKey,
    IntegrityError,
    RequiredNotNull,
    assert_castable,
    assert_pk_absent,
    dedupe_keep_last,
    duplicate_keys,
    fk_split,
    label_rejects,
    required_not_null_split,
)


@pytest.fixture()
def child(spark):
    return spark.createDataFrame(
        [("A", "k1"), ("B", "k1"), ("C", "k2"), ("D", None)],
        "id string, fk string",
    )


def test_dedupe_keep_last_deterministic(spark):
    df = spark.createDataFrame(
        [("k", "first", 0), ("k", "middle", 1), ("k", "last", 2), ("x", "only", 3)],
        "pk string, val string, _row_idx long",
    )
    out = {r["pk"]: r["val"] for r in dedupe_keep_last(df, "pk").collect()}
    assert out == {"k": "last", "x": "only"}


def test_duplicate_keys(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "pk string")
    assert [r["pk"] for r in duplicate_keys(df, "pk").collect()] == ["a"]


def test_assert_pk_absent_raises(spark):
    incoming = spark.createDataFrame([("a",), ("b",)], "pk string")
    existing = spark.createDataFrame([("b",)], "pk string")
    with pytest.raises(IntegrityError, match="already present"):
        assert_pk_absent(incoming, existing, "pk", "t")
    # disjoint sets pass
    assert_pk_absent(incoming, spark.createDataFrame([("z",)], "pk string"), "pk", "t")


def test_fk_split(spark, child):
    parent = spark.createDataFrame([("k1",)], "fk string")
    res = fk_split(child, parent, "fk")
    assert {r["id"] for r in res.valid.collect()} == {"A", "B"}
    assert {r["id"] for r in res.missing.collect()} == {"C", "D"}


def test_required_not_null_split(spark, child):
    res = required_not_null_split(child, ["fk"])
    assert {r["id"] for r in res.valid.collect()} == {"A", "B", "C"}
    assert {r["id"] for r in res.missing.collect()} == {"D"}


def test_label_rejects_first_declared_reason_wins(spark):
    """One label per row, agreeing with fk_split and
    required_not_null_split: a null FK key is FK-missing, a row breaking
    both rules carries the first declared reason, and a duplicated parent
    key does not duplicate child rows."""
    child = spark.createDataFrame(
        [("A", "k1", "x"), ("B", "k1", None), ("C", "k2", "x"), ("D", None, None)],
        "id string, fk string, req string",
    )
    parent = spark.createDataFrame([("k1",), ("k1",), (None,)], "fk string")
    fk = ForeignKey("fk_missing", parent, "fk")
    req = RequiredNotNull("req_null", ["req"])

    def labels(df):
        return {r["id"]: r[REJECT] for r in df.collect()}

    fk_first = label_rejects(child, fk, req)
    assert fk_first.columns == ["fk", "id", "req", REJECT]
    assert labels(fk_first) == {"A": None, "B": "req_null", "C": "fk_missing", "D": "fk_missing"}
    assert labels(label_rejects(child, req, fk)) == {
        "A": None, "B": "req_null", "C": "fk_missing", "D": "req_null",
    }


def test_assert_castable(spark):
    df = spark.createDataFrame([("1",), ("x",)], "raw string").withColumn(
        "casted", F.col("raw").try_cast("int")
    )
    with pytest.raises(IntegrityError, match="non-castable"):
        assert_castable(df, "raw", "casted")
    ok = spark.createDataFrame([("1",), (None,)], "raw string").withColumn(
        "casted", F.col("raw").try_cast("int")
    )
    assert_castable(ok, "raw", "casted")  # nulls from null input are fine
