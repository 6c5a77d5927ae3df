"""Plan-shape regression tests — the scale contract asserted on real
query plans, so a future edit can't silently reintroduce a scale
anti-pattern:

* parquet filter pushdown reaches the scan (PushedFilters)
* no CartesianProduct outside the declared small-side exact paths
* no row-wise Python (BatchEvalPython) anywhere — pandas UDFs are
  Arrow-batched (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas)
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("PBOH_TEST_SF_DIR", "/root/testdata/sf0.001")

# non-iterative queries whose plan builds cheaply; the iterative ones
# (cc_components, pboh_*) run driver loops at construction time and are
# plan-audited in their own modules
PLAN_QUERIES = [
    "rel_q1_pricing_summary", "rel_q3_top_orders", "rel_q5_nation_revenue",
    "rel_semi_join", "rel_anti_join", "rel_topk_per_group",
    "stat_name_stats", "stat_entity_stats", "stat_cooccurrence",
    "stat_lambda_potential", "stat_rho_context",
    "link_pair_scoring", "dedup_exact", "dedup_lsh_pairs",
    "dedup_simhash_pairs", "dedup_embedding_lsh_pairs",
    "text_quality", "text_fingerprint",
    "ann_lsh_topk", "ann_ivf_topk", "text_unescape_links",
    "stat_name_stats_redirected",
]

# declared small-side exact paths where a nested-loop/cartesian shape is
# the documented plan (broadcast NL over a bounded side)
CARTESIAN_OK = {"ann_cosine_topk", "dedup_embedding_pairs"}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    qs = entrymod.queries()
    return {name: _plan(qs[name](spark, SF_DIR)) for name in PLAN_QUERIES}


def test_parquet_filter_pushdown(plans):
    """rel_q1's shipdate predicate must reach the parquet scan."""
    p = plans["rel_q1_pricing_summary"]
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [", 1)[1][:300]
    assert "l_shipdate" in pushed


def test_no_cartesian_products(plans):
    for name, p in plans.items():
        if name in CARTESIAN_OK:
            continue
        assert "CartesianProduct" not in p, name


def test_no_rowwise_python(plans):
    """input_hint: vectorized pandas/Arrow UDFs only — a row-at-a-time
    Python UDF plans as BatchEvalPython and is banned."""
    for name, p in plans.items():
        assert "BatchEvalPython" not in p, name


def test_whole_stage_codegen_in_hot_paths(spark):
    """The hot relational paths must compile to ≥1 whole-stage-codegen
    subtree. The codegen explain of an UN-executed AQE plan always says
    'Found 0 WholeStageCodegen subtrees.' — which CONTAINS the substring
    the old assertion checked, making it vacuous — so the plan is built
    with AQE off and the reported count is parsed and asserted > 0.
    Queries built on higher-order array functions — fingerprint,
    minhash — legitimately fall back to interpreted projection and are
    not asserted."""
    import re

    qs = entrymod.queries()
    jvm = spark.sparkContext._jvm
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("rel_q1_pricing_summary", "stat_lambda_potential",
                     "dedup_exact"):
            df = qs[name](spark, SF_DIR)
            s = jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "codegen"
            )
            m = re.search(r"Found (\d+) WholeStageCodegen subtrees", s)
            assert m and int(m.group(1)) >= 1, (name, s[:80])
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior)


def test_no_forced_broadcast_on_entity_stats(spark):
    """stats.with_lambda_potential must not force-broadcast the entity
    catalog (it grows with the corpus — a forced hint bypasses AQE's size
    check and OOMs at scale). AQE-chosen broadcast is fine; a literal
    F.broadcast() hint plans as ResolvedHint in the analyzed plan and is
    banned here. Tested on the bare function (the contract query's
    derived-anchor build legitimately broadcasts the bounded part dim)."""
    from pboh_spark import stats

    pairs = spark.createDataFrame(
        [(1, 2, 3)], "e1 bigint, e2 bigint, cocit bigint"
    )
    es = spark.createDataFrame(
        [(1, 10.0, 0, 2.3), (2, 5.0, 0, 1.6)],
        "entity bigint, popularity double, self_cocit bigint, log_pop double",
    )
    lam = stats.with_lambda_potential(
        pairs, es, {"num_total_pairs": 100, "num_distinct_pairs": 10}
    )
    analyzed = lam._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_no_forced_broadcast_hints_in_library_source():
    """Repo policy (stats.py: 'no broadcast hint; AQE decides'): a literal
    F.broadcast() in the library is banned outside the declared
    exceptions — ops/simsearch.py (bounded query-set / centroid sides of
    the ANN paths, documented per call) and api.py (driver-side REPL
    convenience on explicitly-small explain tables). Everything that
    grows with the corpus must leave broadcast selection to AQE.
    Source-level so the guard covers code paths no plan test builds."""
    root = Path(__file__).resolve().parents[1] / "pboh_spark"
    allowed = {"simsearch.py", "api.py"}
    offenders = []
    for py in root.rglob("*.py"):
        if py.name in allowed:
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if "F.broadcast(" in line.split("#", 1)[0]:
                offenders.append(f"{py.name}:{i}")
    assert not offenders, offenders


def test_no_session_conf_mutation_in_library_source():
    """Repo policy: no library helper mutates session state. A
    ``conf.set(`` leaks into every later query of the session (and races
    any concurrent one), so session configuration lives in session.py
    alone. Source-level, like the broadcast-hint guard above."""
    root = Path(__file__).resolve().parents[1] / "pboh_spark"
    offenders = []
    for py in root.rglob("*.py"):
        if py.name == "session.py":
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if "conf.set(" in line.split("#", 1)[0]:
                offenders.append(f"{py.relative_to(root)}:{i}")
    assert not offenders, offenders


def test_scoring_udf_is_arrow_batched(plans):
    """The Jaro-Winkler UDF must appear as an Arrow eval, never row-wise."""
    p = plans["link_pair_scoring"]
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p
