"""The correctness gates reject perturbed outputs; the seeded inputs repeat."""

from __future__ import annotations

import dataclasses

import pandas as pd
import pytest

import gates
import inputs


def _frame():
    return pd.DataFrame({
        "id_a": [1, 2, 3], "id_b": [4, 5, 6], "cosine": [0.91, 0.875, 0.5],
    })


def test_value_hash_ignores_row_and_column_order():
    df = _frame()
    shuffled = df.iloc[[2, 0, 1]][["cosine", "id_b", "id_a"]]
    assert gates.value_hash(df) == gates.value_hash(shuffled)
    assert gates.check_leaf("q", df, shuffled) == []


def test_value_hash_reads_nan_as_null_and_rounds_floats():
    a = pd.DataFrame({"x": [1.0, float("nan")]})
    b = pd.DataFrame({"x": [1.000000001, None]}, dtype=object)
    assert gates.value_hash(a) == gates.value_hash(b)


@pytest.mark.parametrize("perturb", [
    lambda df: df.assign(cosine=df.cosine.where(df.id_a != 2, 0.876)),
    lambda df: df.iloc[:2],
    lambda df: df.rename(columns={"cosine": "cos"}),
    lambda df: pd.concat([df, df.iloc[:1]]),
])
def test_leaf_gate_rejects_perturbed_output(perturb):
    df = _frame()
    assert gates.check_leaf("q", perturb(df), df)


def _link_run(**kw):
    base = gates.LinkRun(
        text_equality_violations=0, pct_converged=1.0,
        summary=(100, 40, 30, 50), output_hash="h",
    )
    return dataclasses.replace(base, **kw)


def test_link_gate_passes_a_clean_iteration():
    assert gates.check_link(_link_run(), _link_run(), 1.0, 0.995, "h") == []
    assert gates.check_link(_link_run(), _link_run(), 1.0, 1.0, None) == []


@pytest.mark.parametrize("cold, resume, f1, acc, ref", [
    ({}, {}, 0.98, 1.0, None),                            # pairwise F1
    ({}, {}, 1.0, 0.989, None),                           # linking accuracy
    ({}, {}, float("nan"), 1.0, None),
    ({"text_equality_violations": 1}, {}, 1.0, 1.0, None),
    ({}, {"text_equality_violations": 2}, 1.0, 1.0, None),
    ({"pct_converged": 0.999}, {}, 1.0, 1.0, None),       # an LBP conversation
    ({}, {"pct_converged": 0.5}, 1.0, 1.0, None),         # did not converge
    ({}, {"summary": (100, 41, 30, 50)}, 1.0, 1.0, None),  # resume disagrees
    ({}, {"output_hash": "other"}, 1.0, 1.0, None),
    ({}, {}, 1.0, 1.0, "first-iteration-hash"),          # iterations disagree
])
def test_link_gate_rejects_perturbed_output(cold, resume, f1, acc, ref):
    fails = gates.check_link(_link_run(**cold), _link_run(**resume), f1, acc, ref)
    assert len(fails) == 1


def test_inputs_repeat_for_a_seed(tmp_path):
    inputs.write_tables(tmp_path / "a", seed=7)
    inputs.write_tables(tmp_path / "b", seed=7)
    inputs.write_tables(tmp_path / "c", seed=8)
    for name in inputs.TABLES:
        a = (tmp_path / "a" / f"{name}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{name}.parquet").read_bytes()
        assert a != (tmp_path / "c" / f"{name}.parquet").read_bytes()
