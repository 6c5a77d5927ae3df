"""Redirect resolution (RedirectPagesIndex.scala:12-58): bounded
left-join chase, identity fallback, mass merge into p̂(e|m)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pboh_spark import stats
from pboh_spark.redirects import resolve_redirects


@pytest.fixture(scope="module")
def redirects(spark):
    # b -> a (1 hop), c -> b -> a (2 hops), loop x <-> y (cycle guard)
    rows = [("b", "a"), ("c", "b"), ("x", "y"), ("y", "x")]
    return spark.createDataFrame(rows, "alias string, canonical string")


def _names(spark, names):
    return spark.createDataFrame([(n,) for n in names], "name string")


def test_chase_and_identity(spark, redirects):
    df = resolve_redirects(_names(spark, ["a", "b", "c", "z"]), redirects)
    got = {r["name"] for r in df.collect()}
    # a canonical stays, b and c both chase to a, z untouched
    assert got == {"a", "z"}
    assert df.where(F.col("name") == "a").count() == 3


def test_cycle_is_bounded(spark, redirects):
    # x -> y -> x terminates after max_hops, no driver loop / no hang
    df = resolve_redirects(_names(spark, ["x"]), redirects, max_hops=2)
    assert df.collect()[0]["name"] == "x"


def test_hop_bound_respected(spark, redirects):
    # one hop only: c stops at b
    df = resolve_redirects(_names(spark, ["c"]), redirects, max_hops=1)
    assert df.collect()[0]["name"] == "b"


def test_mass_merges_into_name_stats(spark, redirects):
    """Aliased anchors split p̂(e|m) mass; after the chase the stats are
    identical to an all-canonical corpus (the reference's reason for the
    index: aliases of one entity must count as one surface)."""
    anchors_alias = spark.createDataFrame(
        [(1, "a", 7), (2, "b", 7), (3, "c", 7), (4, "a", 8)],
        "doc_id bigint, name string, entity bigint",
    )
    anchors_canon = spark.createDataFrame(
        [(1, "a", 7), (2, "a", 7), (3, "a", 7), (4, "a", 8)],
        "doc_id bigint, name string, entity bigint",
    )
    pre = stats.name_stats(anchors_alias)
    assert pre.where(F.col("name") == "a").count() == 2  # mass split
    post = stats.name_stats(resolve_redirects(anchors_alias, redirects))
    want = {(r["name"], r["entity"], r["freq"], r["total_freq"])
            for r in stats.name_stats(anchors_canon).collect()}
    got = {(r["name"], r["entity"], r["freq"], r["total_freq"])
           for r in post.collect()}
    assert got == want
    # merged: p̂(7|a) = 3/4 beats the pre-chase 1/2
    row = post.where((F.col("name") == "a") & (F.col("entity") == 7)).collect()
    assert row[0]["prob"] == pytest.approx(0.75)


def test_fact_table_with_alias_column_survives(spark, redirects):
    """A fact table carrying its own 'alias'/'canonical' columns must not
    trip an ambiguous reference or lose those columns to the chase."""
    df = spark.createDataFrame(
        [("c", "keepme", "mine")],
        "name string, alias string, canonical string",
    )
    out = resolve_redirects(df, redirects).collect()[0]
    assert out["name"] == "a"          # chased 2 hops
    assert out["alias"] == "keepme"    # caller columns intact
    assert out["canonical"] == "mine"
