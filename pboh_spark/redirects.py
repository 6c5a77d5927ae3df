"""Redirect resolution — alias titles chased to canonical before stats.

The reference loads a 6.4M-entry redirect map and probes it once per
normalized target link (index/RedirectPagesIndex.scala:12-58,
getCanonicalURL :37-42); anchors whose target is a redirect page would
otherwise split their p̂(e|m) mass across aliases of the same entity.

Spark-first recast: the redirect map is an ordinary (alias, canonical)
dim DataFrame and the probe is a LEFT JOIN. Real redirect tables contain
chains (A → B → C, double redirects Wikipedia never fully cleans up), so
the chase is a bounded sequence of ``max_hops`` left joins — each hop is
a join against the same dim, which AQE broadcasts when it fits (a few
hundred MB at reference scale; never force-hinted). The fact table
streams through ``max_hops`` broadcast probes with zero shuffles.

String normalization before the probe (trim / underscore / capitalize,
Normalizer.scala:15-27) is the caller's job via
``normalize.process_target_link`` — this module chases exact keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_HOPS = 2  # covers Wikipedia-style double redirects; raise per corpus


def resolve_redirects(
    df: DataFrame,
    redirects: DataFrame,
    col: str = "name",
    max_hops: int = MAX_HOPS,
) -> DataFrame:
    """Replaces ``col`` with its canonical title by chasing the
    (alias, canonical) redirect dim for up to ``max_hops`` hops;
    non-redirect values pass through unchanged (≙ getCanonicalURL's
    identity fallback, RedirectPagesIndex.scala:37-42).

    Cycles longer than ``max_hops`` terminate at the last hop (bounded
    plan — no iterative driver loop; redirect chains beyond max_hops are
    a data bug, not a reason for an unbounded fixpoint).

    The dim columns are renamed to reserved names before the join so a
    fact table that itself carries 'alias'/'canonical' columns neither
    trips an ambiguous reference nor loses its own columns to drop()."""
    r = redirects.select(
        F.col("alias").alias("__redir_alias"),
        F.col("canonical").alias("__redir_canonical"),
    )
    out = df
    for _ in range(max_hops):
        out = (
            out.join(r, out[col] == r["__redir_alias"], "left")
            .withColumn(
                col, F.coalesce(F.col("__redir_canonical"), F.col(col))
            )
            .drop("__redir_alias", "__redir_canonical")
        )
    return out

