"""End-to-end: pipeline F1 ≥ 0.99 gate + checkpoint resume + LBP accuracy."""

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pboh_spark import (
    blocking, cluster, evaluate, normalize, resolve, stats, synth,
)
from pboh_spark import pairs as pairs_mod
from pboh_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def e2e(spark, universe, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ck"))
    transcripts, gold = synth.generate_transcripts(spark, 300, universe=universe)
    anchors = synth.generate_anchors(spark, 4000, universe=universe)
    metrics = run_pipeline(spark, transcripts, anchors, out)
    return out, transcripts, gold, anchors, metrics


def test_pairwise_f1_gate(spark, e2e):
    """THE gate: pairwise F1 ≥ 0.99 on labeled pairs at the reference
    blocking key (BASELINE.json)."""
    out, transcripts, gold, anchors, metrics = e2e
    blocked = spark.read.parquet(f"{out}/s3_blocked/data")
    comp = spark.read.parquet(f"{out}/s6_components/data")
    lp = evaluate.build_labeled_pairs(gold, blocked)
    res = evaluate.pairwise_f1(lp, comp)
    assert res["n_pairs"] > 10_000
    assert res["f1"] >= 0.99, res


def test_text_equality_through_pipeline(e2e):
    _, _, _, _, metrics = e2e
    assert metrics["text_equality_violations"] == 0


def test_lbp_linking_accuracy(spark, e2e):
    out, transcripts, gold, anchors, _ = e2e
    m = spark.read.parquet(f"{out}/s1_mentions/data")
    assign = spark.read.parquet(f"{out}/s5_assignments/data")
    acc = evaluate.linking_accuracy(assign, gold, m)
    assert acc["micro_accuracy"] >= 0.99, acc


def test_resume_skips_completed_stages(spark, e2e, universe):
    """Second run with same out_dir must not recompute (wall time and
    metrics files untouched)."""
    out, transcripts, gold, anchors, _ = e2e
    before = {
        p.name: json.loads((p / "metrics.json").read_text())["completed_at"]
        for p in Path(out).iterdir()
        if (p / "metrics.json").exists()
    }
    run_pipeline(spark, transcripts, anchors, out)
    after = {
        p.name: json.loads((p / "metrics.json").read_text())["completed_at"]
        for p in Path(out).iterdir()
        if (p / "metrics.json").exists()
    }
    assert before == after


def test_learn_params_stage_checkpoints_and_serves(spark, universe, tmp_path_factory):
    """--learn-params: the per-parameter tables checkpoint as a
    kind-tagged stage, the LBP stage serves them under its own stage
    name, and linking accuracy stays at the gate (the planted-corpus
    usefulness proof lives in test_param_learning; here we prove the
    PIPELINE plumbing: fit → checkpoint → join into scoring → resume)."""
    out = str(tmp_path_factory.mktemp("ckp"))
    transcripts, gold = synth.generate_transcripts(spark, 120, universe=universe)
    anchors = synth.generate_anchors(spark, 2000, universe=universe)
    metrics = run_pipeline(
        spark, transcripts, anchors, out,
        learn_gold=gold, learn_params=True, fit_weights=False,
        param_rounds=2,
    )
    pt = metrics["param_tables"]
    assert pt["n_rho"] > 0 and pt["n_lambda"] > 0
    assert len(pt["loss_history"]) == 2
    assert Path(out, "s5_param_tables", "data").exists()
    assert Path(out, "s5_assignments_params", "data").exists()
    m = spark.read.parquet(f"{out}/s1_mentions/data")
    assign = spark.read.parquet(f"{out}/s5_assignments_params/data")
    acc = evaluate.linking_accuracy(assign, gold, m)
    assert acc["micro_accuracy"] >= 0.99, acc
    # resume restores the tables without re-fitting (loss history equal)
    m2 = run_pipeline(
        spark, transcripts, anchors, out,
        learn_gold=gold, learn_params=True, fit_weights=False,
        param_rounds=2,
    )
    assert m2["param_tables"]["loss_history"] == pt["loss_history"]


def test_stage_metrics_record_rows_checksum_upstream(spark, e2e):
    """metrics.json carries the rows and content checksum the stage's
    write observed, plus its upstream stages' fingerprints."""
    out, *_ = e2e
    m = json.loads(Path(out, "s4_pairs", "metrics.json").read_text())
    assert m["rows"] == spark.read.parquet(f"{out}/s4_pairs/data").count()
    assert isinstance(m["checksum"], int)
    assert "n_matches" in m["observed"]
    assert set(m["upstream"]) == {"s3_blocked", "s2_lambda"}
    up = json.loads(Path(out, "s3_blocked", "metrics.json").read_text())
    assert m["upstream"]["s3_blocked"] == (
        f"{up['rows']}:{up['checksum']}:{up['schema']}"
    )


def test_size_bucketed_stats(spark, e2e):
    out, transcripts, gold, anchors, _ = e2e
    blocked = spark.read.parquet(f"{out}/s3_blocked/data")
    comp = spark.read.parquet(f"{out}/s6_components/data")
    lp = evaluate.build_labeled_pairs(gold, blocked)
    rows = evaluate.size_bucketed_f1(lp, comp, gold).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r["f1"] >= 0.95


def test_threshold_calibration_grid(spark, e2e):
    """L5 grid-search analogue: one-pass P/R/F1 over the threshold grid;
    the production threshold (0.65) must sit in the F1-optimal plateau."""
    out, transcripts, gold, anchors, _ = e2e
    blocked = spark.read.parquet(f"{out}/s3_blocked/data")
    scored = spark.read.parquet(f"{out}/s4_pairs/data")
    lp = evaluate.build_labeled_pairs(gold, blocked)
    cal = {r["threshold"]: r["f1"] for r in
           evaluate.calibrate_threshold(scored, lp).collect()}
    best = max(cal.values())
    assert cal[0.65] >= best - 1e-9
    assert best >= 0.99
